"""Driver-mimicking oracle harness: run every registered query in
Spark AND its DuckDB oracle SQL, then compare row count, column names,
and values (column-name-sorted, order-insensitive, tolerant floats).

This is the pre-flight for the driver's CORRECTNESS_r{N}.json gate —
any mismatch here is a mismatch there. Runs at sf0.001 by default for
speed; set SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.01 to mirror
the driver exactly.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from cdc_2025_spark.schemas import TABLE_NAMES

SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_TEST_SF_DIR", "/root/testdata/sf0.001"
)

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def normalize(rows, columns):
    """Column-name-sorted, order-insensitive canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c for _, c in sorted(zip(range(len(columns)), columns), key=lambda p: columns[p[0]])], out


def values_close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-7)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return str(a) == str(b)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    _, s_norm = normalize(spark_rows, spark_cols)
    _, d_norm = normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_norm, d_norm)):
        if not all(values_close(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
        if len(mismatches) >= 3:
            break
    assert not mismatches, f"{name}: value mismatches {mismatches}"


# The driver-safe type set lives in queries/driver_model.py (single
# source shared with tools/oracle_check.py and the per-module
# tests — r14 ADVICE) — HUGEINT and DECIMAL are deliberately absent:
# DuckDB types SUM(BIGINT) as HUGEINT (int128), which the driver
# hashes differently from int64 even when every value is equal —
# `survival_km_reorder` was hash-red for two rounds on exactly this.
from cdc_2025_spark.queries.driver_model import (  # noqa: E402
    DRIVER_SAFE_ORACLE_TYPES,
    container_columns,
)


def test_oracle_output_types_driver_safe(duck):
    """Registry-wide guard: no oracle may emit a column type outside
    the driver-safe set.  ``con.sql(q).types`` binds without
    executing, so this sweeps all ~230 oracles in well under a
    second.  Fix pattern: ``CAST(expr AS BIGINT)`` (windowed SUMs) or
    ``CAST(expr AS DOUBLE)`` (AVG over DECIMAL) in the final SELECT.
    """
    offenders = []
    for name in sorted(ORACLES):
        rel = duck.sql(ORACLES[name])
        for col, typ in zip(rel.columns, rel.types):
            base = str(typ).split("(")[0]
            if base not in DRIVER_SAFE_ORACLE_TYPES:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "driver-unsafe oracle output types (the value hash is "
        f"type-sensitive — CAST them): {offenders}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_driver_sortable_output_types(spark, name):
    """The driver canonicalizes EVERY registered query (including
    rows-only ones) via pandas ``sort_values`` over all columns, which
    raises ``TypeError: unhashable type`` on array/map cells — this
    killed two queries in round 1. Pin: no top-level container types
    in any driver-facing output; serialize arrays (array_join /
    element_at) at the query boundary instead."""
    bad = container_columns(QUERIES[name](spark, SF_DIR))
    assert not bad, (
        f"{name}: driver-unsortable container columns {bad} — "
        "project to scalars (element_at / array_join) before returning"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    """Queries without oracles must still execute and return a stable
    schema (driver's weaker check)."""
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
