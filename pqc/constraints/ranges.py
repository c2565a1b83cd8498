"""Range / domain / null constraints — pure pushed-down predicates.

Zero-shuffle scan filters (parquet row-group pruning applies at scale).
North-rule items: format membership, dimension ranges and caption
presence; payload presence rides the decode island's scan
(``integrity.NOT_NULL_BYTES``). Reference analogue: structure acceptance
gates (SURVEY §2.8 I7) and the shelf-label UOM set check
(`prompts.py:1031-1038`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pqc.constraints import SuiteContext, flag_rows
from pqc.image.codec import SUPPORTED_FORMATS

W_MIN, W_MAX = 1, 4096
H_MIN, H_MAX = 1, 4096

NAMES = (f"range:w,h in [{W_MIN},{W_MAX}]", "domain:fmt", "not_null:caption")


def row_checks() -> list[tuple[str, Column, Column]]:
    """The ``(constraint, failed, detail)`` triples over one metadata row —
    shared by the batch suite and the streaming validator."""
    w, h, fmt, caption = F.col("w"), F.col("h"), F.col("fmt"), F.col("caption")
    range_name, domain_name, caption_name = NAMES
    return [
        (
            range_name,
            w.isNull() | h.isNull() | (w < W_MIN) | (w > W_MAX) | (h < H_MIN) | (h > H_MAX),
            F.concat_ws("×", w.cast("string"), h.cast("string")),
        ),
        (
            domain_name,
            fmt.isNull() | ~fmt.isin(*sorted(SUPPORTED_FORMATS)),
            F.coalesce(fmt, F.lit("<null>")),
        ),
        (
            caption_name,
            caption.isNull() | (F.length(F.trim(caption)) == 0),
            F.lit("missing caption"),
        ),
    ]


def combined_violations(ctx: SuiteContext) -> DataFrame:
    """Every row-local metadata check in one pass over the meta cache."""
    return flag_rows(ctx.meta(), row_checks())
