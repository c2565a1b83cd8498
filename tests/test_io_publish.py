"""Cache publishing and worker-package shipping: a crashed writer's
partial cache directory or file must not be served forever, and the
worker zip goes to the process temp dir."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pandas as pd
import pytest


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


def _complete_writer(tag: str):
    def write(tmp: str) -> None:
        os.makedirs(tmp)
        with open(f"{tmp}/data", "w") as f:
            f.write(tag)
        open(f"{tmp}/_SUCCESS", "w").close()

    return write


def test_cached_dir_failed_write_leaves_nothing_then_builds(tmp_path):
    """A ``write`` that raises after writing part of its output leaves
    neither ``path`` nor its temp dir; the next call builds ``path``."""
    from pqc.io import cached_dir

    path = str(tmp_path / "cache")

    def crash(tmp: str) -> None:
        os.makedirs(tmp)
        with open(f"{tmp}/part-0.parquet", "w") as f:
            f.write("partial")
        raise RuntimeError("writer crashed")

    with pytest.raises(RuntimeError, match="writer crashed"):
        cached_dir(path, crash)
    assert os.listdir(tmp_path) == []

    assert cached_dir(path, _complete_writer("built")) == path
    assert open(f"{path}/data").read() == "built"
    assert os.listdir(tmp_path) == ["cache"]


def test_cached_dir_reuses_complete_copy(tmp_path):
    """A complete copy (``_SUCCESS`` present) is served without calling
    ``write``."""
    from pqc.io import cached_dir

    path = str(tmp_path / "cache")
    _complete_writer("first")(path)

    def must_not_run(tmp: str) -> None:
        raise AssertionError("write called for a complete cache")

    assert cached_dir(path, must_not_run) == path
    assert open(f"{path}/data").read() == "first"


def test_publish_rows_crash_mid_write_leaves_nothing(tmp_path, monkeypatch):
    """A ``write_table`` that dies after writing partial bytes leaves no
    file at ``path`` (so no existence check can serve it) and no temp
    file; a later publish writes the rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pqc.io import publish_rows

    path = tmp_path / "sidecars" / "rows.parquet"
    schema = pa.schema([("k", pa.int64()), ("v", pa.string())])
    rows = [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]

    def partial(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 truncated")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", partial)
    with pytest.raises(OSError, match="disk full"):
        publish_rows(str(path), rows, schema)
    assert os.listdir(path.parent) == []

    monkeypatch.undo()
    assert publish_rows(str(path), rows, schema) == str(path)
    assert pq.read_table(path).to_pylist() == rows
    assert os.listdir(path.parent) == ["rows.parquet"]


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
