#!/usr/bin/env python3
"""Build dist/pqc.zip for spark-submit --py-files."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pqc.session import write_package_zip  # noqa: E402


def main() -> None:
    out_dir = os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    print(write_package_zip(os.path.join(out_dir, "pqc.zip")))


if __name__ == "__main__":
    main()
