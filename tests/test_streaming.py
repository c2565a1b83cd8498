"""Structured Streaming tests: windowed rollup matches its batch twin
(up to the open-window tail), and the incremental validator emits the
same row-local violations as the batch suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from pqc.streaming.windowed import (
    run_to_completion,
    streaming_validation,
    windowed_event_counts,
)

from .conftest import SF_DIR_SMALL


def test_windowed_counts_match_batch(spark):
    stream_df = windowed_event_counts(spark, SF_DIR_SMALL)
    got = run_to_completion(stream_df, "stream_hourly").collect()
    assert len(got) > 0

    batch = (
        spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    batch_map = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    # every emitted (closed) window must match the batch count exactly
    for r in got:
        key = (r["window_start"], r["event_type"])
        assert batch_map[key] == r["n_events"], key
    # the watermark may hold back only the trailing windows
    emitted = {r["window_start"] for r in got}
    all_windows = sorted({k[0] for k in batch_map})
    missing = [w for w in all_windows if w not in emitted]
    assert all(w >= all_windows[-3] for w in missing), f"non-tail windows missing: {missing[:5]}"


def test_streaming_validation_matches_batch(spark):
    from pqc.constraints import SuiteContext
    from pqc.constraints.ranges import combined_violations
    from pqc.fixtures import cached_images_path

    path = cached_images_path(spark, 2000)
    got = run_to_completion(
        streaming_validation(spark, path), "stream_validate"
    ).collect()
    batch = combined_violations(
        SuiteContext(images=spark.read.parquet(path))
    ).collect()
    key = lambda r: (r["image_id"], r["constraint"], r["detail"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, batch))
    assert len(got) > 0


def test_streaming_validation_flags_hand_made_rows(spark, tmp_path):
    """Each streaming check fires on a hand-made row, including the
    null-payload check the fixture (no null payloads) never reaches."""
    from pqc.fixtures import IMAGE_SCHEMA

    rows = [
        (0, "clean", b"x", 64, 64, "png", "water, sugar", 1, 0),
        (1, "null_bytes", None, 64, 64, "png", "water, sugar", 1, 0),
        (2, "zero_w", b"x", 0, 64, "png", "water, sugar", 1, 1),
        (3, "bmp_fmt", b"x", 64, 64, "bmp", "water, sugar", 1, 1),
        (4, "empty_caption", b"x", 64, 64, "png", "", 1, 1),
    ]
    src = str(tmp_path / "imgs")
    spark.createDataFrame(rows, IMAGE_SCHEMA).write.parquet(src)
    got = run_to_completion(
        streaming_validation(spark, src), "stream_validate_hand_made"
    ).collect()
    assert sorted((r["image_id"], r["constraint"], r["detail"]) for r in got) == [
        ("bmp_fmt", "domain:fmt", "bmp"),
        ("empty_caption", "not_null:caption", "missing caption"),
        ("null_bytes", "not_null:bytes", "null payload"),
        ("zero_w", "range:w,h in [1,4096]", "0×64"),
    ]


def test_stateful_dedup_flags_cross_batch_duplicates(spark, tmp_path):
    """applyInPandasWithState keeps first-seen seq per image_id across
    micro-batches: a re-sent id in a LATER batch is flagged against the
    original batch's keeper."""
    import os
    import time as _time

    import pandas as pd

    from pqc.streaming.stateful import streaming_uniqueness_violations
    from pqc.streaming.windowed import run_to_completion

    src = tmp_path / "imgs"
    src.mkdir()

    def write_file(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["seq", "image_id"]
        )
        for col, val in [("bytes", None), ("w", 1), ("h", 1), ("fmt", "png"),
                         ("caption", "c"), ("phash", 0), ("part", 0)]:
            pdf[col] = val
        pdf = pdf.astype({"seq": "int64", "w": "int32", "h": "int32",
                          "phash": "int64", "part": "int32"})
        p = str(src / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    now = _time.time()
    write_file("b1.parquet", [(1, "A"), (2, "B")], now - 100)
    # batch 2 re-sends A (higher seq → plain duplicate) and delivers a
    # LOWER seq for B — the provisional keeper seq=2 must be
    # retroactively flagged (eventual min-seq-wins)
    write_file("b2.parquet", [(3, "A"), (0, "B"), (4, "C"), (5, "C")], now - 50)

    out = run_to_completion(
        streaming_uniqueness_violations(spark, str(src)), "stateful_dedup"
    ).collect()
    flagged = {(r["image_id"], r["seq"]) for r in out}
    assert flagged == {("A", 3), ("B", 2), ("C", 5)}


def test_stateful_sessionization_corrects_late_bridge(spark, tmp_path):
    """A late-arriving event that bridges two provisional sessions must
    MERGE them: the eventual transition recomputes from full state, so
    the final summary reads 1 session, not the 2 an append-only
    sessionizer would have frozen in."""
    import os
    import time as _time

    import pandas as pd

    from pqc.streaming.stateful import streaming_sessions
    from pqc.streaming.windowed import run_to_completion

    src = tmp_path / "events"
    src.mkdir()

    def write_file(name, epochs, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(epochs)),
                "ts": pd.to_datetime(epochs, unit="s"),
                "user_id": 7,
                "event_type": "click",
                "value": 1.0,
                "props": "{}",
            }
        ).astype({"event_id": "int64", "user_id": "int64"})
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet TIMESTAMP(MICROS)
        p = str(src / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    now = _time.time()
    # t=0 and t=3000: gap 3000 > 1800 → provisionally 2 sessions
    write_file("b1.parquet", [0, 3000], now - 100)
    # t=1500 arrives later and bridges (gaps 1500/1500 ≤ 1800)
    write_file("b2.parquet", [1500], now - 50)

    out = run_to_completion(
        streaming_sessions(spark, str(src)), "stateful_sessions_test"
    ).toPandas()
    final = out.loc[out["n_events"].idxmax()]
    assert int(final["n_events"]) == 3
    assert int(final["n_sessions"]) == 1
    # the provisional 2-session summary was emitted before correction
    assert (out["n_sessions"] == 2).any() or len(out) == 1


class _FakeState:
    """Minimal GroupState stand-in for driving the transition directly."""

    def __init__(self):
        self._val = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = v


def test_sessionizer_state_is_o_sessions():
    """A heavy user (many events, few sessions) must carry O(sessions)
    state, not O(events): the interval-merge transition stores merged
    (start, end) pairs + one counter — r4 verdict #2's scale fix —
    while the emitted summaries stay batch-exact for an out-of-order
    late bridge."""
    import pandas as pd

    from pqc.events_ops import SESSION_GAP_SECONDS
    from pqc.streaming.stateful import _session_transition

    state = _FakeState()
    # 50 batches × 200 events, all 1 s apart → ONE session of 10 000
    last = None
    for b in range(50):
        ts = [b * 200 + i * 1.0 for i in range(200)]
        last = list(
            _session_transition(
                (7,), [pd.DataFrame({"ts_epoch": ts})], state
            )
        )[0]
    n_total, starts, ends = state.get
    assert n_total == 10_000 and len(starts) == 1 and len(ends) == 1
    assert int(last["n_events"].iloc[0]) == 10_000
    assert int(last["n_sessions"].iloc[0]) == 1

    # a second session far away, delivered BEFORE a late bridge check
    far = 10_000 * (SESSION_GAP_SECONDS + 1)
    list(_session_transition((7,), [pd.DataFrame({"ts_epoch": [far, far + 10]})], state))
    n_total, starts, ends = state.get
    assert n_total == 10_002 and len(starts) == 2

    # out-of-order event landing INSIDE session 1 (no split, no growth)
    out = list(_session_transition((7,), [pd.DataFrame({"ts_epoch": [5000.5]})], state))[0]
    n_total, starts, ends = state.get
    assert n_total == 10_003 and len(starts) == 2
    assert int(out["n_sessions"].iloc[0]) == 2

    # late bridge between the two sessions → merge to 1 interval
    bridge_lo = ends[0] + SESSION_GAP_SECONDS
    mids = []
    t = bridge_lo
    while t < far:
        mids.append(t)
        t += SESSION_GAP_SECONDS
    out = list(_session_transition((7,), [pd.DataFrame({"ts_epoch": mids})], state))[0]
    _, starts, ends = state.get
    assert len(starts) == 1
    assert int(out["n_sessions"].iloc[0]) == 1
