"""Output checks: the full-evaluation checksum and the DuckDB oracle compare.

``compare`` makes the same comparison as the repository's oracle tests:
column names, row count, logical types (DuckDB's type canonicalised to
Spark's), and the order-insensitive multiset of type-tagged values, with
floats compared by ``repr`` so that ``-0.0`` differs from ``0.0``.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import re
from collections import Counter

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _contains(dt, types) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, types):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains(dt.elementType, types)
    if isinstance(dt, T.MapType):
        return _contains(dt.keyType, types) or _contains(dt.valueType, types)
    if isinstance(dt, T.StructType):
        return any(_contains(f.dataType, types) for f in dt.fields)
    return False


def _hash_form(col, dt):
    """The form of one column that ``xxhash64`` sees.  Spark's hash
    functions treat -0.0 and 0.0 alike, so floats hash through their string
    form, which keeps the sign bit; maps are not hashable, so they and
    nested floats hash through ``to_json``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    floats = (T.FloatType, T.DoubleType)
    if isinstance(dt, floats):
        return col.cast("string")
    if _contains(dt, floats + (T.MapType,)):
        return F.to_json(col)
    return col


def checksum(df) -> tuple:
    """(sum of ``xxhash64`` over every output column, row count): one
    action that computes every column.  The sum runs in decimal(38,0)
    since 64-bit hash sums overflow at once under ANSI mode.  The sum is
    order-insensitive, so two results with the same checksum hold the
    same multiset of rows, ``-0.0`` and ``0.0`` told apart."""
    from pyspark.sql import functions as F

    cols = [_hash_form(df[f.name], f.dataType) for f in df.schema.fields]
    row = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (row["c"], row["n"])


def duckdb_con(data_dir: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


_DUCK_TYPES = {
    "varchar": "string", "text": "string", "char": "string",
    "bool": "boolean", "integer": "int", "int4": "int", "int8": "bigint",
    "int2": "smallint", "int1": "tinyint", "float4": "float",
    "float8": "double", "real": "float",
    "timestamp with time zone": "timestamp", "timestamp_ns": "timestamp",
    "timestamp_ms": "timestamp", "blob": "binary",
}


def canon_duck_type(t) -> str:
    s = re.sub(r"\s+", " ", str(t).strip().lower())
    if s.endswith("[]"):
        return f"array<{canon_duck_type(s[:-2])}>"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    return _DUCK_TYPES.get(s, s)


def canon_spark_type(t: str) -> str:
    s = str(t).strip().lower()
    if s.startswith("array<") and s.endswith(">"):
        return f"array<{canon_spark_type(s[6:-1])}>"
    return {"long": "bigint", "integer": "int", "short": "smallint"}.get(s, s)


def _norm(v):
    """Type-tagged, sign-bit-preserving form of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("dt", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return ("by", bytes(v))
    return v


def schema_problems(spark_df, rel) -> list[str]:
    """Column names and logical types of a Spark result against its oracle."""
    spark_cols = sorted(spark_df.columns)
    if spark_cols != sorted(rel.columns):
        return [f"columns differ: spark={spark_cols} oracle={sorted(rel.columns)}"]
    spark_types = dict(spark_df.dtypes)
    duck_types = dict(zip(rel.columns, rel.types))
    return [
        f"column {c!r} type differs: spark={canon_spark_type(spark_types[c])} "
        f"oracle={canon_duck_type(duck_types[c])}"
        for c in spark_cols
        if canon_spark_type(spark_types[c]) != canon_duck_type(duck_types[c])
    ]


def verify(spark, spark_df, spark_sum: tuple, con, sql: str) -> list[str]:
    """Mismatches between a Spark result and its DuckDB oracle.

    After the schema check, the oracle's rows are loaded into Spark under
    the result's schema and checksummed like the result was; equal
    checksums mean equal multisets of rows (floats by their sign-keeping
    string form), without running the result's plan again.  On a
    difference, :func:`compare` collects the result and decides, value by
    value."""
    from pyspark.sql import functions as F

    rel = con.sql(sql)
    problems = schema_problems(spark_df, rel)
    if problems:
        return problems
    oracle_df = spark.createDataFrame(rel.arrow()).select(
        [F.col(f.name).cast(f.dataType) for f in spark_df.schema.fields])
    if checksum(oracle_df) == tuple(spark_sum):
        return []
    return compare(spark_df, con, sql)


def compare(spark_df, con, sql: str) -> list[str]:
    """Mismatches between a Spark result and its DuckDB oracle (empty when
    they agree), row by row."""
    rel = con.sql(sql)
    problems = schema_problems(spark_df, rel)
    if problems:
        return problems
    spark_cols = sorted(spark_df.columns)
    idx = [list(rel.columns).index(c) for c in spark_cols]
    o_rows = Counter(tuple(_norm(row[i]) for i in idx) for row in rel.fetchall())
    s_rows = Counter(tuple(_norm(r[c]) for c in spark_cols)
                     for r in spark_df.collect())
    n_s, n_o = sum(s_rows.values()), sum(o_rows.values())
    if n_s != n_o:
        problems.append(f"row count differs: spark={n_s} oracle={n_o}")
    only_s = list((s_rows - o_rows).items())[:3]
    only_o = list((o_rows - s_rows).items())[:3]
    if only_s or only_o:
        problems.append(f"values differ; spark-only={only_s} oracle-only={only_o}")
    return problems
