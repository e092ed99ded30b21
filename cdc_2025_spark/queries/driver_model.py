"""Single source of truth for the DRIVER-STRENGTH result comparison.

The round driver compares each registered query against its DuckDB
oracle at sf0.01 with a column-name-sorted, order-insensitive,
TYPE-SENSITIVE value hash.  Everything that models that comparison —
the named-query checker (``tools/oracle_check.py``), the registry-wide
oracle-type guard (``tests/test_oracle_parity.py``) and the
per-module parity tests (``tests/test_pending_r1*.py``) — imports the
model from HERE so a future tightening (e.g. allowing TIME, rejecting
TIMESTAMP_NS) cannot drift between the tool and the guards (r14
ADVICE finding #2).

Two hard-won rules are encoded:

- **Oracle result types must land in the driver-safe set.**  DuckDB
  types ``SUM(BIGINT)`` as HUGEINT (int128) and decimal literals
  (``VALUES (0.83)``) as DECIMAL; the driver hashes int128/Decimal
  differently from int64/float even when every value is equal —
  ``survival_km_reorder`` was hash-red for two rounds on exactly
  this.
- **Value comparison never falls back to string equality.**  A
  ``decimal.Decimal('5.0')`` next to a float ``5.0`` has an equal
  repr but a different driver hash; any value outside the known-safe
  python type set is a FAIL on either side, not a coercion (r14
  ADVICE finding #1).
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql.types import ArrayType, MapType, StructType

from cdc_2025_spark.queries.registry import ORACLES, QUERIES

# Oracle output types the driver's value-hash layer demonstrably
# handles (every hash-green oracle across r7-r14 emits only these).
# HUGEINT and DECIMAL are deliberately absent — see the module
# docstring.  Fix pattern: ``CAST(expr AS BIGINT)`` (windowed SUMs)
# or ``CAST(expr AS DOUBLE)`` (AVG over DECIMAL / decimal literals).
DRIVER_SAFE_ORACLE_TYPES = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "DATE",
    "BOOLEAN",
    "TIMESTAMP",
}

# Python-side value types the driver hash treats as first-class.
# Anything else (decimal.Decimal, bytes, lists, ...) fails the
# comparison loudly instead of being string-coerced — on BOTH the
# Spark and the oracle side.
DRIVER_SAFE_VALUE_TYPES = (
    bool,
    int,
    float,
    str,
    datetime.date,
    datetime.datetime,
)


def unsafe_oracle_columns(columns, types) -> list[str]:
    """``col:type`` strings for any oracle output column whose base
    type falls outside :data:`DRIVER_SAFE_ORACLE_TYPES`."""
    return [
        f"{c}:{t}"
        for c, t in zip(columns, types)
        if str(t).split("(")[0] not in DRIVER_SAFE_ORACLE_TYPES
    ]


def _sort_key(x):
    # -0.0 == 0.0 (see same_value) but str() spells them apart, which
    # would sort equal rows out of step between the two sides.
    if isinstance(x, float) and x == 0.0:
        x = 0.0
    return (x is None, str(x))


def normalize_rows(rows, columns):
    """Column-name-sorted, order-insensitive canonical form — the
    driver's pre-hash canonicalization (NaN spelled as a sentinel so
    NaN == NaN row-wise; float zero sorts as one value whatever its
    sign, the values themselves are left as they are)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(_sort_key(x) for x in t))
    return out


def same_value(a, b) -> bool:
    """Driver-strength scalar equality: exact value AND same numeric
    type family.

    - int vs float cross-type equality (5 == 5.0) is a FAIL — the
      driver hashes typed values (the survival_km_reorder lesson);
    - any value outside :data:`DRIVER_SAFE_VALUE_TYPES` (Decimal,
      bytes, containers) is a FAIL on either side — never
      string-compared (a Decimal('5.0') repr-matches 5.0 but
      hash-mismatches it).
    """
    if a is None or b is None:
        return a is b
    if not isinstance(a, DRIVER_SAFE_VALUE_TYPES) or not isinstance(
        b, DRIVER_SAFE_VALUE_TYPES
    ):
        return False
    num_a = isinstance(a, (int, float)) and not isinstance(a, bool)
    num_b = isinstance(b, (int, float)) and not isinstance(b, bool)
    if num_a and num_b:
        if isinstance(a, float) != isinstance(b, float):
            return False
        return a == b
    if type(a) is not type(b):
        # datetime vs date, bool vs str, ... — typed hash mismatch.
        return False
    return a == b


def compare_frames(
    spark_cols,
    spark_rows,
    duck_cols,
    duck_types,
    duck_rows,
    max_examples: int = 3,
) -> str | None:
    """Full driver-strength comparison; ``None`` when green, else the
    first failure description (oracle-type safety, schema, row count,
    then canonical value equality)."""
    unsafe = unsafe_oracle_columns(duck_cols, duck_types)
    if unsafe:
        return f"oracle emits driver-unsafe column types {unsafe} (CAST them)"
    if sorted(spark_cols) != sorted(duck_cols):
        return f"schema {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} vs {len(duck_rows)}"
    s_norm = normalize_rows(spark_rows, spark_cols)
    d_norm = normalize_rows(duck_rows, duck_cols)
    bad = [
        (i, sr, dr)
        for i, (sr, dr) in enumerate(zip(s_norm, d_norm))
        if not all(same_value(a, b) for a, b in zip(sr, dr))
    ][:max_examples]
    if bad:
        return f"value mismatches {bad}"
    return None


def check_registered(spark, con, name: str, sf_dir: str) -> str | None:
    """Driver-strength check of one registered query: run it at
    ``sf_dir`` and its oracle on ``con`` (DuckDB views over the same
    tables), then :func:`compare_frames`."""
    sdf = QUERIES[name](spark, sf_dir)
    rel = con.sql(ORACLES[name])
    return compare_frames(
        sdf.columns,
        [tuple(r) for r in sdf.collect()],
        list(rel.columns),
        [str(t) for t in rel.types],
        rel.fetchall(),
    )


def container_columns(df) -> list[str]:
    """Top-level array/map/struct columns of ``df``: the driver sorts
    every result with pandas ``sort_values``, which raises on them."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
