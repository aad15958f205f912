"""Output checks.  A query's row count and order-insensitive content
digest ride on its own noop write through ``DataFrame.observe``, so the
check adds no second execution.  A pipeline is checked on its manifest
and on a digest of every dataset it leaves behind."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CheckFailed(AssertionError):
    pass


def _single_precision(dt: T.DataType) -> T.DataType:
    """``dt`` with every double, at any depth, made a float."""
    if isinstance(dt, T.DoubleType):
        return T.FloatType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_single_precision(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_single_precision(dt.keyType), _single_precision(dt.valueType),
                         dt.valueContainsNull)
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _single_precision(f.dataType), f.nullable) for f in dt.fields
        ])
    return dt


def _hashable(df: DataFrame) -> list:
    """The columns to hash.  Doubles are rounded to single precision: a sum
    of doubles changes in its last bits with the partition count and merge
    order, which follow the host's CPU count.  hash() rejects map columns;
    their JSON text carries the same content."""
    cols = []
    for f in df.schema.fields:
        col, rounded = F.col(f"`{f.name}`"), _single_precision(f.dataType)
        if rounded != f.dataType:
            col = col.cast(rounded)
        cols.append(F.to_json(col) if "map<" in f.dataType.simpleString() else col)
    return cols


def _positional(df: DataFrame) -> DataFrame:
    # output column names may repeat; positional names make every column
    # addressable
    return df.toDF(*[f"c{i}" for i in range(len(df.columns))])


def _digest_aggs(df: DataFrame) -> list:
    """(rows, sum of 32-bit row hashes, xor of 64-bit row hashes): equal for
    equal row multisets, whatever the row order."""
    cols = _hashable(df)
    aggs = [F.count(F.lit(1)).alias("rows")]
    if cols:
        aggs += [
            F.coalesce(F.sum(F.hash(*cols).cast("long")), F.lit(0)).alias("h32"),
            F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h64"),
        ]
    return aggs


def _as_digest(values: dict) -> dict:
    return {"rows": values["rows"], "h32": values.get("h32", 0), "h64": values.get("h64", 0)}


def observe(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with the digest aggregates attached; read them with
    ``observed_digest`` after the write."""
    renamed = _positional(df)
    obs = Observation("perfbench_digest")
    return renamed.observe(obs, *_digest_aggs(renamed)), obs


def observed_digest(obs: Observation) -> dict:
    return _as_digest(obs.get)


def frame_digest(df: DataFrame) -> dict:
    renamed = _positional(df)
    return _as_digest(renamed.agg(*_digest_aggs(renamed)).collect()[0].asDict())


def dataset_digests(spark, data_root: str) -> dict:
    """Digest of the latest committed parquet version of every versioned
    dataset under ``data_root`` (``<root>/<step>/v=<n>/``)."""
    from etl_template_spark.io import latest_version

    out = {}
    for step in sorted(os.listdir(data_root)):
        v = latest_version(data_root, step)
        if v is None:
            continue
        path = os.path.join(data_root, step, f"v={v}")
        if not any(n.endswith(".parquet") for _, _, fs in os.walk(path) for n in fs):
            continue
        out[step] = frame_digest(spark.read.parquet(path))
    return out


def verify(item: str, got: dict, expected: dict | None) -> None:
    """Raise CheckFailed unless ``got`` equals ``expected`` field by field.
    A missing expected entry is a failure, so new items must be recorded
    first."""
    if expected is None:
        raise CheckFailed(f"{item}: no expected value recorded")
    for key in sorted(expected.keys() | got.keys()):
        want, have = expected.get(key), got.get(key)
        if isinstance(want, dict) and isinstance(have, dict):
            verify(f"{item}.{key}", have, want)
        elif have != want:
            raise CheckFailed(f"{item}: {key} is {have!r}, expected {want!r}")


def disagreements(first: dict, second: dict) -> list[str]:
    """Items whose outputs differ between two recordings, or that only one
    of them has: their expected values cannot be recorded."""
    return sorted(k for k in first.keys() | second.keys() if first.get(k) != second.get(k))

