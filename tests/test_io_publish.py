"""Cache publishing and worker-package shipping: a crashed writer's
partial cache directory must not be served forever, and the worker zip
goes to the process temp dir."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pandas as pd


def test_stale_partial_cache_is_replaced(spark, tmp_path):
    """A leftover ``path`` without ``_SUCCESS`` (a writer that crashed
    mid-publish) is replaced by the freshly built data."""
    from pqc.catalog_packs import _claims_bulk_row
    from pqc.fixtures import ensure_generated_parquet

    path = str(tmp_path / "claims")
    os.makedirs(path)
    pd.DataFrame({"row_id": [999], "copy_text": ["stale"]}).to_parquet(
        f"{path}/part-stale.parquet"
    )

    out = ensure_generated_parquet(
        spark, path, 20, _claims_bulk_row, "row_id long, copy_text string", n_tasks=2
    )
    assert os.path.exists(f"{out}/_SUCCESS")
    ids = sorted(r["row_id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(20))


def test_publish_dir_keeps_complete_copy(tmp_path):
    """A complete copy already in place wins; the new build is dropped."""
    from pqc.io import publish_dir

    path, tmp = tmp_path / "cache", tmp_path / "cache.build1"
    for d, tag in ((path, "winner"), (tmp, "loser")):
        d.mkdir()
        (d / "_SUCCESS").touch()
        (d / "data").write_text(tag)
    publish_dir(str(tmp), str(path))
    assert (path / "data").read_text() == "winner"
    assert not tmp.exists()


def test_ship_package_honours_tmpdir(tmp_path, monkeypatch):
    from pqc.session import _ship_package

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    added = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=added.append))
    _ship_package(fake)
    expected = str(tmp_path / f"pqc_pyfiles_{os.getpid()}.zip")
    assert added == [expected]
    assert os.path.exists(expected)
