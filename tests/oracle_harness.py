"""Local mirror of the driver's t2 correctness gate: run a registered query
in Spark AND its oracle SQL in DuckDB over the same parquet tables, then
compare row count + order-insensitive values (columns sorted by name).
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from streamprocessing_with_kafka_spark.sources.tables import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # ANSI SQL leaves NULL placement under ORDER BY implementation-
    # defined. Spark fixes it as ASC -> NULLS FIRST, DESC -> NULLS LAST;
    # DuckDB's default is NULLS LAST everywhere. Pin the oracle session
    # to Spark's choice so window/ORDER BY comparisons over NULLABLE
    # sort keys (the r10 mixed_keys sweep class) compare semantics, not
    # an unspecified degree of freedom. Strictly convergent: DESC
    # placement is unchanged, ASC now matches Spark -- a query green
    # under the old default had no NULLs reaching its sort keys (all
    # driver/test fixtures are NULL-free there), so nothing previously
    # matching can flip. Oracles that NEED a different placement say so
    # explicitly (NULLS FIRST/LAST), which overrides the session default.
    con.execute("SET default_null_order='nulls_first_on_asc_last_on_desc'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, _dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if v is None:
        return ("n",)
    return ("s", str(v))


#: DuckDB result types with no lossless pandas/arrow representation.
#: HUGEINT (int128) converts to float64 on the driver's dataframe path, so
#: a value like 2643 hashes as 2643.0 -- the exact r1 `agg_priority_line_
#: counts` failure. Oracles must CAST these away (usually AS BIGINT).
_LOSSY_DUCK_TYPES = ("HUGEINT", "UHUGEINT")

#: Nested result columns (LIST/STRUCT/MAP) sort fine HERE (we canonicalize
#: them into tuples) but crash the DRIVER's pandas canonicalizer with
#: "unhashable type: 'list'" -- the exact r2 mm_feature_extract and r4
#: text_hashed_tfidf failures. Registered queries must return flat
#: columns; project nested shapes into (key, index, value) rows or
#: to_json them before registering.


def _is_nested_duck_type(t: str) -> bool:
    t = t.upper()
    return t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST", "UNION"))


def assert_flat_schema(spark_df, name: str) -> None:
    """Fail if the DataFrame's analyzed schema has an array/map/struct
    column. Reads df.schema, so a query returning 0 rows is checked too."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nested = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name} returns nested column(s) {nested} -- the driver's pandas "
        f"canonicalizer cannot sort these (r2 mm_feature_extract / r4 "
        f"text_hashed_tfidf failure); register a flat projection"
    )


def compare(spark_df, con, sql: str, name: str = "?") -> list[str]:
    """Return list of mismatch descriptions; empty == pass."""
    errs = []
    cols = sorted(spark_df.columns)
    s_rows = [tuple(_canon(r[c]) for c in cols) for r in spark_df.collect()]

    cur = con.sql(sql)
    d_cols = list(cur.columns)
    for c, t in zip(cur.columns, cur.types):
        if str(t).upper() in _LOSSY_DUCK_TYPES:
            errs.append(
                f"{name}: oracle column {c} is {t} (lossy under pandas "
                f"conversion -- cast it, e.g. AS BIGINT)"
            )
        if _is_nested_duck_type(str(t)):
            errs.append(
                f"{name}: oracle column {c} is nested ({t}) -- the driver's "
                f"pandas canonicalizer cannot sort it; register a flat "
                f"(key, index, value) projection instead"
            )
    if sorted(d_cols) != cols:
        errs.append(f"{name}: column mismatch spark={cols} duckdb={sorted(d_cols)}")
        return errs
    idx = [d_cols.index(c) for c in cols]
    d_rows = [tuple(_canon(row[i]) for i in idx) for row in cur.fetchall()]

    if len(s_rows) != len(d_rows):
        errs.append(f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}")
    s_sorted, d_sorted = sorted(s_rows), sorted(d_rows)
    if s_sorted != d_sorted:
        diff_s = [r for r in s_sorted if r not in set(d_sorted)][:3]
        diff_d = [r for r in d_sorted if r not in set(s_sorted)][:3]
        errs.append(
            f"{name}: value mismatch; spark-only(sample)={diff_s} duckdb-only(sample)={diff_d}"
        )
    return errs
