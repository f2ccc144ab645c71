"""Order-insensitive, float-tolerant digest of a query result.

The digest is computed engine-side by one aggregate over the whole
result, so taking it evaluates every output column of every row (the
same full-evaluation property as ``bench.full_eval``) while only one
row reaches the driver.

Per column it records the non-null count and one summary:

- numeric columns: the sum as a double, compared with a relative
  tolerance (partition order changes the last bits of a float sum);
- arrays of numbers: the summed element total (tolerant) and the
  summed array sizes (exact);
- everything else: the sum of a 32-bit hash of each value, compared
  exactly. Maps and nested types hash their JSON form.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REL_TOL = 1e-6
ABS_TOL = 1e-6

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
            T.DoubleType, T.DecimalType)


def _summaries(name: str, dtype: T.DataType) -> list[tuple[str, Column]]:
    c = F.col(f"`{name}`")
    out = [(f"{name}:n", F.count(c))]
    if isinstance(dtype, _NUMERIC):
        out.append((f"{name}:sum~", F.sum(c.cast("double"))))
    elif isinstance(dtype, T.BooleanType):
        out.append((f"{name}:true", F.sum(c.cast("int"))))
    elif isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, _NUMERIC):
        total = F.aggregate(c, F.lit(0.0), lambda acc, x: acc + F.coalesce(x.cast("double"), F.lit(0.0)))
        out.append((f"{name}:elems~", F.sum(total)))
        out.append((f"{name}:size", F.sum(F.size(c))))
    else:
        v = F.to_json(c) if isinstance(dtype, (T.MapType, T.StructType, T.ArrayType)) else c
        out.append((f"{name}:hash", F.sum(F.xxhash64(v).bitwiseAND(F.lit(0xFFFFFFFF)))))
    return out


def digest_frame(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """The one-row aggregate that digests ``df``, and its key names."""
    parts = [("rows", F.count(F.lit(1)))]
    for f in df.schema.fields:
        parts.extend(_summaries(f.name, f.dataType))
    agg = df.agg(*(col.alias(f"d{i}") for i, (_, col) in enumerate(parts)))
    return agg, [key for key, _ in parts]


def read_digest(row, keys: list[str]) -> dict[str, float | int | None]:
    return {key: row[i] for i, key in enumerate(keys)}


def digest(df: DataFrame) -> dict[str, float | int | None]:
    """Evaluate ``df`` fully and return its digest as a flat dict."""
    agg, keys = digest_frame(df)
    return read_digest(agg.collect()[0], keys)


def mismatches(got: dict, want: dict) -> list[str]:
    """Keys on which two digests disagree (tolerant on ``~`` keys)."""
    bad = sorted(set(got) ^ set(want))
    for key in sorted(set(got) & set(want)):
        a, b = got[key], want[key]
        if a is None or b is None:
            if a is not b:
                bad.append(key)
        elif key.endswith("~"):
            if not math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                bad.append(key)
        elif a != b:
            bad.append(key)
    return bad
