"""Declarative constraint suite over the north-star images table.

Each constraint is a plan-builder: ``fn(ctx) -> violations DataFrame``
with the uniform columns ``(image_id, part, constraint, detail)`` —
the engine's typed version of the reference's failed-rows output
(`app.py:1516-1521`). Row-local checks are declared once, as
``(constraint, failed, detail)`` triples, and evaluated by
``flag_rows``; each module exports the names it emits (``NAMES`` or
``NAME``). The Suite unions all violation plans lazily and derives
per-partition verdicts in a single action (SURVEY §3.1 "Spark shape").
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATION_COLS = ("image_id", "part", "constraint", "detail")


@dataclass
class SuiteContext:
    """Shared inputs for constraint plan-builders."""

    images: DataFrame
    image_dim: DataFrame | None = None
    baseline: DataFrame | None = None
    extras: dict = field(default_factory=dict)
    _integrity: DataFrame | None = None
    _meta: DataFrame | None = None

    def meta(self) -> DataFrame:
        """Payload-free projection of the images table, cached once.

        Every constraint except the decode island works on metadata
        only; sharing one cached projection means the wide ``bytes``
        column is scanned exactly once (by the decode island) per run
        — the "never shuffle bytes" rule (SURVEY §7.4). Even
        ``isNull(bytes)`` would force the scan to materialize the
        binary column, so the payload-presence check lives in the
        decode island instead."""
        if self._meta is None:
            cols = [c for c in self.images.columns if c != "bytes"]
            self._meta = self.images.select(*cols)
            self._meta.persist()
        return self._meta

    def integrity(self) -> DataFrame:
        """Decode-island output, computed once and cached (it is the
        only expensive Python stage; every consumer shares it)."""
        if self._integrity is None:
            from pqc.image.decode import decode_integrity

            self._integrity = decode_integrity(self.images)
            self._integrity.persist()
        return self._integrity

    def track_persist(self, df: DataFrame) -> DataFrame:
        """persist() a helper DataFrame and register it for release()."""
        df.persist()
        self.extras.setdefault("_persisted", []).append(df)
        return df

    def release(self) -> None:
        """Unpersist the shared caches (idempotent). Call when the run's
        outputs have been materialized — repeated suite runs in one
        session otherwise accumulate cached blocks in executor memory."""
        if self._meta is not None:
            self._meta.unpersist()
            self._meta = None
        if self._integrity is not None:
            self._integrity.unpersist()
            self._integrity = None
        for df in self.extras.pop("_persisted", []):
            df.unpersist()


def as_violation(df: DataFrame, constraint: str, detail_col) -> DataFrame:
    return df.select(
        F.col("image_id"),
        F.col("part"),
        F.lit(constraint).alias("constraint"),
        detail_col.cast("string").alias("detail"),
    )


def flag_rows(df: DataFrame, checks: Sequence[tuple[str, Column, Column]]) -> DataFrame:
    """All row-local ``(constraint, failed, detail)`` checks in ONE pass
    over ``df``: an array of (constraint, detail) structs gated by
    ``when(failed)``, null entries filtered, exploded. One plan instead
    of one per check — plan-count latency dominates small batches and
    per-partition resume runs."""
    flags = F.array(
        *[
            F.when(
                failed,
                F.struct(
                    F.lit(name).alias("constraint"),
                    detail.cast("string").alias("detail"),
                ),
            )
            for name, failed, detail in checks
        ]
    )
    return df.select(
        "image_id", "part", F.explode(F.filter(flags, lambda v: v.isNotNull())).alias("v")
    ).select("image_id", "part", "v.*")
