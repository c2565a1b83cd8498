"""The benchmark's own checks. Needs no Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.checks import Tally, digest
from perfbench.workloads import Images, Queries


class _Frame:
    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - mirrors the Spark method
        return self.pdf


def _mix(result: pd.DataFrame, expected: pd.DataFrame) -> Queries:
    wl = Queries(cache="", seed=0)
    wl.queries, wl.dir = ("q",), ""
    wl.fns = {"q": lambda spark, d: _Frame(result)}
    wl.expected = {"q": digest(expected)}
    return wl


GOOD = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.0], "s": ["a", None, "c"]})


def test_digest_ignores_row_order_column_order_and_int_float():
    shuffled = GOOD.iloc[[2, 0, 1]][["s", "v", "k"]].astype({"k": "float64"})
    assert digest(shuffled) == digest(GOOD)


def test_correct_output_passes():
    tally = Tally()
    _mix(GOOD, GOOD).run_pass(tally)
    assert (tally.attempted, tally.failed) == (1, 0)


def test_corrupted_output_counts_as_failed_operation():
    for bad in (
        GOOD.assign(v=[0.5, 1.5, 2.0000001]),  # one value off in the last digits
        GOOD.iloc[:2],  # a row lost
        GOOD.rename(columns={"s": "t"}),  # a column renamed
    ):
        tally = Tally()
        _mix(bad, GOOD).run_pass(tally)
        assert (tally.attempted, tally.failed) == (1, 1), bad
        assert "digest" in tally.errors[0]


def test_raising_operation_counts_as_failed():
    wl = _mix(GOOD, GOOD)
    wl.fns = {"q": lambda spark, d: 1 / 0}
    tally = Tally()
    wl.run_pass(tally)
    assert (tally.attempted, tally.failed) == (1, 1)
    assert "ZeroDivisionError" in tally.errors[0]


def test_corrupted_suite_counts_fail(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    seqs = inputs.block_seqs(np.array([0, 5, 9]))
    wl = Images(cache="", seed=0)
    wl.expected = dict(
        inputs.scheduled_counts(seqs, np.ones(len(seqs), bool)),
        **{"text:banned_ingredient": 40, "text:needs_review": 25},
    )
    wl.done_parts, wl.n_validated = [2, 7], 3
    wl.pass_ledger = str(tmp_path)
    pq.write_table(pa.table({"part": [2, 7, 0, 1, 3]}), tmp_path / "l.parquet")
    rows = sum(wl.expected.values())
    counts = dict(wl.expected, _rows=rows, _skipped=[2, 7])

    def drift(**kw):
        return lambda: {k: v for k, v in dict(counts, **kw).items() if v is not None}

    tally = Tally()
    tally.run("correct", drift(), wl.check_counts)
    tally.run("caption screen count off", drift(**{"text:banned_ingredient": 39, "_rows": rows - 1}), wl.check_counts)
    tally.run("scheduled count off", drift(**{"domain:fmt": 0, "_rows": rows - counts["domain:fmt"]}), wl.check_counts)
    tally.run("constraint missing", drift(**{"text:needs_review": None, "_rows": rows - 25}), wl.check_counts)
    tally.run("rows disagree with verdicts", drift(_rows=0), wl.check_counts)
    tally.run("wrong partitions skipped", drift(_skipped=[2]), wl.check_counts)
    assert (tally.attempted, tally.failed) == (6, 5)
    assert [e.split(":")[0] for e in tally.errors] == [
        "caption screen count off",
        "scheduled count off",
        "constraint missing",
        "rows disagree with verdicts",
        "wrong partitions skipped",
    ]


def test_schedule_matches_fixture_at_2000_rows():
    # the counts tests/test_image_island.py asserts for rows 0..1999
    got = inputs.scheduled_counts(np.arange(2000), np.ones(2000, bool))
    assert got["uniqueness:image_id"] == 4
    assert got["referential:image_id->image_dim"] == 4
    assert got["integrity:decode"] == 4
    assert got["near_dup:phash_hamming<=6"] == 10


def test_tables_are_a_function_of_the_seed():
    a, b = inputs.build_tables(7, 0.001), inputs.build_tables(7, 0.001)
    c = inputs.build_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
