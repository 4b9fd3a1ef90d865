"""One aggregate digest over every column of a query's output.

Consuming a query with ``.count()`` lets Catalyst prune the output
columns, so the measured work is not the work a caller pays for. The
digest reads every column in one aggregate job:

- ``rows``: the row count;
- ``hsum``/``hxor``: an exact, order-independent hash of the id and label
  columns (every column that is not floating point);
- ``sums``: one sum per floating-point (score) column;
- ``wsums``: per score column, a sum weighted by the row's key (the hash
  of its id and label columns, folded to 1..1021), so a score that moves
  to another row changes the digest even when the plain sum does not.

Two digests match when rows and hashes are equal and every score sum
and weighted sum agrees to 1e-6 (relative and absolute).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)
TOLERANCE = 1e-6
WEIGHT_MOD = 1021  # prime; row weights are 1..WEIGHT_MOD


def score_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, FLOAT_TYPES)]


def digest(df: DataFrame) -> dict:
    scores = score_columns(df)
    exact = [c for c in df.columns if c not in scores]
    aggs = [F.count(F.lit(1)).alias("rows")]
    weight = F.lit(1)
    if exact:
        h = F.xxhash64(*[F.col(c) for c in exact])
        # pmod keeps the sum far from long overflow (ANSI mode raises)
        aggs += [F.sum(F.pmod(h, F.lit(1 << 31))).alias("hsum"),
                 F.bit_xor(h).alias("hxor")]
        weight = F.pmod(h, F.lit(WEIGHT_MOD)) + 1
    for i, c in enumerate(scores):
        v = F.col(c).cast("double")
        aggs += [F.sum(v).alias(f"s{i}"), F.sum(v * weight).alias(f"w{i}")]
    row = df.agg(*aggs).collect()[0]
    return {
        "rows": row["rows"],
        "hsum": row["hsum"] if exact else None,
        "hxor": row["hxor"] if exact else None,
        "sums": {c: row[f"s{i}"] for i, c in enumerate(scores)},
        "wsums": {c: row[f"w{i}"] for i, c in enumerate(scores)},
    }


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=TOLERANCE, abs_tol=TOLERANCE)


def matches(got: dict, want: dict) -> bool:
    return (got["rows"] == want["rows"]
            and got["hsum"] == want["hsum"]
            and got["hxor"] == want["hxor"]
            and got["sums"].keys() == want["sums"].keys()
            and all(_close(got[k][c], want[k][c])
                    for k in ("sums", "wsums") for c in got["sums"]))


def conform(expected: DataFrame, like: DataFrame) -> DataFrame:
    """``expected`` with ``like``'s column order and types, so the two
    hash identically."""
    types = {f.name: f.dataType for f in like.schema.fields}
    return expected.select([F.col(c).cast(types[c]).alias(c) for c in like.columns])
