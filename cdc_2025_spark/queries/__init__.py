"""Query registry: the driver-facing surface of the engine.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions) registers here as a named query over the star-schema
testdata, each with a DuckDB oracle SQL equivalent where SQL can
express the semantics.

Determinism rules for oracle hash-parity (driver compares a
column-name-sorted, order-insensitive value hash at sf0.01):

- every LIMIT/top-k query fully orders with a unique tiebreak first;
- floating-point aggregates are rounded (4 decimals) AFTER
  aggregation in BOTH engines, so summation-order noise (~1e-12 rel)
  cannot flip the hash;
- DuckDB's SUM(integer) returns HUGEINT — oracles cast to BIGINT;
  DuckDB's year()/month() return BIGINT — oracles cast to INTEGER;
  decimal literals (VALUES (0.83)) type as DECIMAL — cast to DOUBLE.
  The driver's value hash is TYPE-SENSITIVE (int128 != int64 even at
  equal values — the survival_km_reorder r12/r13 lesson), so every
  oracle output column must land in the driver-safe type set;
  tests/test_oracle_parity.py::test_oracle_output_types_driver_safe
  guards the whole registry.

Every query registers through ``@query`` where it is defined; the
registry holds them in import order, module by module.
"""

from __future__ import annotations

from cdc_2025_spark.queries.registry import ORACLES, QUERIES, query

# Importing the modules populates the registry.
from cdc_2025_spark.queries import (  # noqa: E402,F401
    analytics,
    arrays,
    behavior,
    dedup,
    graph,
    llmdata,
    multimodal,
    pending_r10,
    pending_r11,
    pending_r12,
    pending_r13,
    pending_r14,
    pending_r15,
    pending_r16,
    relational,
    resilience_star,
    similarity,
    text,
    tpch,
    web,
    windows,
    windows2,
)

__all__ = ["QUERIES", "ORACLES", "query"]
