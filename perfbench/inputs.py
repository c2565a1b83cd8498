"""Seeded benchmark inputs, generated without Spark and cached on disk.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical rows. Nothing here is timed; the runner excludes input
generation from ``setup_s``.

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` (one parquet file, one row group per
  table, in a seeded row order), shaped like the driver's testdata.
  ``documents`` and ``embeddings`` carry a seeded near-duplicate pileup.
- ``images_table``: fixture rows (``pqc.fixtures.row_for``) for a seeded
  set of 200-row index blocks, taken from a seed-independent pool, plus
  two slabs of payload-free rows that follow the same anomaly schedule
  and whose stored phashes share one band pair per slab, so two band
  buckets exceed the near-dup skew cap.
"""

from __future__ import annotations

import datetime as dt
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCK = 200  # every anomaly-schedule pair (dup id, near-dup) lies inside one block
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def publish(path: str, build) -> str:
    """Build into a temp sibling, then rename into place (atomic)."""
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def _write_one(table: pa.Table, path: str, perm: np.ndarray) -> None:
    pq.write_table(table.take(pa.array(perm)), path, row_group_size=max(1, table.num_rows))


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int, pileup: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # ~5% " dup" near-copies and ~0.2% exact copies of earlier documents
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    # the pileup: one base document and `pileup` one-token edits of it
    base = int(rng.integers(0, n))
    toks = texts[base].split()
    for k, i in enumerate(rng.choice(np.delete(np.arange(n), base), pileup, replace=False)):
        edit = list(toks)
        new = WORDS[k % len(WORDS)]
        edit[k % len(edit)] = new if new != edit[k % len(edit)] else WORDS[(k + 1) % len(WORDS)]
        texts[i] = " ".join(edit)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, pileup: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    centers *= 0.07 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0, 0.125, (n, 64))
    # the pileup: near-identical copies of one vector, far below any cap
    base = int(rng.integers(0, n))
    idx = rng.choice(np.delete(np.arange(n), base), pileup, replace=False)
    vecs[idx] = vecs[base] + rng.normal(0, 1e-3, (pileup, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)), flat),
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(
                rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
    noun = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _choice(
                rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
            "o_orderpriority": _choice(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_user, n_ev)),
            "event_type": _choice(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc, pileup=max(8, n_doc // 25))
    t["embeddings"] = _embeddings(rng, n_emb, pileup=max(4, n_emb // 50))
    return t


def write_tables(path: str, seed: int, sf: float) -> str:
    """One parquet file (one row group) per table, rows in a seeded order."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        for name, table in build_tables(seed, sf).items():
            _write_one(table, os.path.join(tmp, f"{name}.parquet"), rng.permutation(table.num_rows))

    return publish(path, build)


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------

def _image_schema() -> pa.Schema:
    return pa.schema(
        [
            ("seq", pa.int64()),
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
            ("part", pa.int32()),
        ]
    )


def _pool_rows(bounds: tuple[int, int]) -> dict[str, list]:
    from pqc.fixtures import row_for

    rows = [row_for(i) for i in range(*bounds)]
    return {k: [r[k] for r in rows] for k in _image_schema().names}


def image_pool(path: str, n_rows: int, workers: int) -> str:
    """Fixture rows 0..n_rows-1, seed-independent, built once."""

    def build(tmp: str) -> None:
        chunks = [(lo, min(lo + 500, n_rows)) for lo in range(0, n_rows, 500)]
        with ProcessPoolExecutor(max_workers=workers, mp_context=multiprocessing.get_context("spawn")) as ex:
            parts = list(ex.map(_pool_rows, chunks))
        cols = {k: sum((p[k] for p in parts), []) for k in _image_schema().names}
        pq.write_table(pa.Table.from_pydict(cols, schema=_image_schema()), os.path.join(tmp, "pool.parquet"))

    return publish(path, build)


def seeded_blocks(seed: int, n_blocks: int, n_pool_blocks: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    return np.sort(rng.choice(n_pool_blocks, n_blocks, replace=False))


def _write_partitioned(table: pa.Table, path: str) -> None:
    """Hive layout ``part=<k>/`` like ``DataFrameWriter.partitionBy``."""
    import pyarrow.compute as pc

    for k in sorted(set(table.column("part").to_pylist())):
        sub = table.filter(pc.equal(table.column("part"), k)).drop_columns(["part"])
        os.makedirs(os.path.join(path, f"part={k}"))
        pq.write_table(sub, os.path.join(path, f"part={k}", "data.parquet"))


def block_seqs(blocks: np.ndarray) -> np.ndarray:
    return (blocks[:, None] * BLOCK + np.arange(BLOCK)[None, :]).ravel()


SLAB_BANDS = ((0, 1), (4, 5))  # each slab shares the 16 bits of one band pair
SLAB_SEQ0 = 1_000_000  # slab rows take indices far above any pool row


def _meta_row(i: int) -> tuple:
    """The payload-free columns ``row_for`` gives row ``i``; the stored
    phash is left to the caller (no pixels are rendered)."""
    from pqc.fixtures import _dims_for, _part_for, caption_for

    image_id = f"img_{(i - 7) if (i % 1000 == 7 and i >= 7) else i:012d}"
    fmt = "lsy" if i % 100 < 80 else ("png" if i % 100 < 95 else "jpeg")
    w, h = _dims_for(i)
    if i % 1000 == 13:
        w, h = w * 2, h * 2
    if i % 200 == 17:
        w = (0, -1, 10000)[(i // 200) % 3]
    if i % 333 == 19:
        fmt = ("bmp", "", None)[(i // 333) % 3]
    return i, image_id, None, w, h, fmt, caption_for(i), 0, _part_for(image_id)


NEAR_DUP_BITS = 6  # pqc.constraints.near_dup.HAMMING_MAX


def _popcount(x: np.ndarray) -> np.ndarray:
    """Set bits per element of a uint64 array."""
    m1, m2, m4 = (np.uint64(v) for v in (0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F))
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _crowded(idx: np.ndarray, ph: np.ndarray, avoid: np.ndarray, min_bits: int) -> np.ndarray:
    """The entries of ``idx`` whose ``ph`` lies closer than ``min_bits``
    to another entry of ``ph`` or to an entry of ``avoid``."""
    every = np.concatenate([ph, avoid]).view(np.uint64)
    bad = []
    for lo in range(0, len(idx), 256):
        chunk = idx[lo : lo + 256]
        d = _popcount(ph[chunk].view(np.uint64)[:, None] ^ every[None, :])
        d[np.arange(len(chunk)), chunk] = 64  # itself
        bad.extend(chunk[(d < min_bits).any(axis=1)])
    return np.asarray(bad, dtype=np.int64)


def _slab_rows(seed: int, slab_blocks: int, avoid: np.ndarray) -> pa.Table:
    """Two slabs of ``slab_blocks`` blocks with null payloads. The stored
    phashes of a slab share the 16 bits of one band pair and are random
    elsewhere, so each slab is one band bucket above the skew cap.
    Scheduled near-duplicates (i % 200 == 31) are row i-1's phash with two
    bits flipped; every other phash is redrawn until it is more than
    ``NEAR_DUP_BITS`` + 4 bits from all others and from ``avoid`` (the
    payload rows' stored phashes), so the schedule alone fixes the
    near-duplicate count."""
    rng = np.random.default_rng([seed, 4])
    seqs = SLAB_SEQ0 + np.arange(2 * slab_blocks * BLOCK)
    n = len(seqs)
    masks = np.zeros(n, dtype=np.int64)
    fixed = np.zeros(n, dtype=np.int64)
    for s, (b0, b1) in enumerate(SLAB_BANDS):
        lo, hi = s * slab_blocks * BLOCK, (s + 1) * slab_blocks * BLOCK
        masks[lo:hi] = np.int64((0xFF << (8 * b0)) | (0xFF << (8 * b1)))
        fixed[lo:hi] = np.int64(rng.integers(0, 2**62)) & masks[lo:hi]
    base = seqs % BLOCK != 31
    phash = np.where(base, 0, np.int64(1) << np.int64(62))  # apart from every base row until set
    redraw = np.nonzero(base)[0]
    while len(redraw):
        phash[redraw] = (
            rng.integers(-(2**63), 2**63 - 1, len(redraw), dtype=np.int64, endpoint=True) & ~masks[redraw]
        ) | fixed[redraw]
        redraw = _crowded(redraw, phash, avoid, NEAR_DUP_BITS + 5)
    for k in np.nonzero(seqs % BLOCK == 31)[0]:
        b0, b1 = rng.choice(63, 2, replace=False)
        phash[k] = phash[k - 1] ^ np.int64((1 << int(b0)) | (1 << int(b1)))
    cols = list(zip(*(_meta_row(int(i)) for i in seqs)))
    cols[7] = phash
    return pa.Table.from_arrays([pa.array(c, t) for c, t in zip(cols, _image_schema().types)], schema=_image_schema())


def images_table(path: str, pool_path: str, seed: int, pool_seqs: np.ndarray, slab_blocks: int) -> str:
    """The pool rows ``pool_seqs`` (real payloads) and the two hot-band
    slabs, partitioned by ``part``."""
    import pyarrow.compute as pc

    def build(tmp: str) -> None:
        pool = pq.read_table(os.path.join(pool_path, "pool.parquet"))
        rows = pool.filter(pc.is_in(pool.column("seq"), pa.array(pool_seqs)))
        avoid = rows.column("phash").to_numpy()
        _write_partitioned(pa.concat_tables([rows, _slab_rows(seed, slab_blocks, avoid)]), tmp)

    return publish(path, build)


def scheduled_counts(seqs, payload) -> dict[str, int]:
    """Per-constraint violation rows the fixture anomaly schedule fixes
    (``pqc.fixtures`` docstring) when the rows ``seqs`` are validated
    together; ``payload`` marks the rows that carry bytes (the others
    are null). A near-duplicate is found only if its base row is
    validated too; duplicate ids share a partition, so they always are.
    Rows of an invalid format (i % 333 == 19) skip the integrity gates."""
    s = np.asarray(seqs)
    has = np.asarray(payload, dtype=bool)
    gated = s % 333 != 19  # the integrity gates skip rows of an invalid format
    p = s[has & gated]
    liars = ((p % 1000 == 13) | (p % 200 == 17)) & (p % 500 != 11)
    return {
        "uniqueness:image_id": 2 * int(np.sum((s % 1000 == 7) & (s >= 7))),
        "referential:image_id->image_dim": int(np.sum(s % 500 == 3)),
        "range:w,h in [1,4096]": int(np.sum(s % 200 == 17)),
        "domain:fmt": int(np.sum(s % 333 == 19)),
        "not_null:caption": int(np.sum(s % 100 == 23)),
        "near_dup:phash_hamming<=6": int(np.sum((s % 200 == 31) & np.isin(s - 1, s))),
        "not_null:bytes": int(np.sum(~has & gated)),
        "integrity:decode": int(np.sum(p % 500 == 11)),
        "integrity:two_pass_agreement": 0,  # no anomaly makes the passes disagree
        "integrity:dims_cross_check": int(np.sum(liars)),
        "integrity:psnr>=40dB": 0,
        "integrity:phash_cross_check": int(np.sum(p % 500 == 37)),
    }
