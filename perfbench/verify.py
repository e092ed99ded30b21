"""Output checks: an order-insensitive digest of a result, computed by
the engine, and the comparison of a result with its DuckDB oracle.

The digest of a frame is its row count plus the sum, over rows, of
``pmod(xxhash64(all columns), 2^31 - 1)``: every column of every row
is computed (unlike ``count()``, which lets the optimizer prune
columns), and the ``pmod`` keeps the sum inside a bigint under ANSI.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_2025_spark.queries.driver_model import compare_frames
from cdc_2025_spark.schemas import TABLE_NAMES

_P = 2**31 - 1


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, hash) of ``df`` — one action that computes every column."""
    h = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(_P))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_mismatch(df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """``None`` when ``df``'s rows equal the oracle's under
    ``driver_model.compare_frames``, else the first difference."""
    rel = con.sql(sql)
    return compare_frames(
        df.columns, [tuple(r) for r in df.collect()],
        list(rel.columns), [str(t) for t in rel.types], rel.fetchall(),
    )
