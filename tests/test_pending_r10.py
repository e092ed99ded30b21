"""Round-10 queries (entity resolution, k-anonymity, weighted
reservoir, classifier evaluation, late-data audit, graph ANN): each
one passes the driver-strength oracle comparison, plus fixture and
plan-shape pins."""

from __future__ import annotations

import os

import duckdb
import pytest

from cdc_2025_spark.queries import ORACLES, QUERIES, pending_r10
from cdc_2025_spark.queries.driver_model import (
    check_registered,
    container_columns,
)
from cdc_2025_spark.schemas import TABLE_NAMES

SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_TEST_SF_DIR", "/root/testdata/sf0.001"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


NAMES = [
    n for n, f in QUERIES.items() if f.__module__ == pending_r10.__name__
]


@pytest.mark.parametrize("name", NAMES)
def test_pending_oracle_match(spark, duck, name):
    if name not in ORACLES:
        # rows-only by design (graph traversal): the query must still
        # RUN and produce its contracted row count; accuracy is
        # pinned in its dedicated test module
        n = QUERIES[name](spark, SF_DIR).count()
        assert n == pending_r10.ANN_N_QUERIES * pending_r10.ANN_TOPK
        return
    failure = check_registered(spark, duck, name, SF_DIR)
    assert failure is None, f"{name}: {failure}"


@pytest.mark.parametrize("name", NAMES)
def test_pending_outputs_driver_sortable(spark, name):
    bad = container_columns(QUERIES[name](spark, SF_DIR))
    assert not bad, f"{name}: container columns {bad}"


def test_pending_module_registered():
    """Every pending_r10 query is registered, with its oracle where
    one exists (sim_graph_ann_topk is rows-only)."""
    assert len(NAMES) == 7
    assert [n for n in NAMES if n not in ORACLES] == ["sim_graph_ann_topk"]


def test_pending_fixtures_are_nontrivial(spark, duck):
    """The fixture constants must produce non-degenerate behavior at
    test scale, or the parity check proves nothing: ER has at least
    one multi-row cluster, the raw k-anon audit sees violations and
    the suppressed one sees none, the AUC is defined, and the late
    audit flags at least one late row."""
    er = pending_r10.er_customer_golden_records(spark, SF_DIR)
    from pyspark.sql import functions as F

    multi = (
        er.groupBy("cluster_id").count().filter(F.col("count") > 1)
    ).count()
    assert multi > 0
    ka = {
        r["stage"]: r
        for r in pending_r10.privacy_kanon_events(spark, SF_DIR).collect()
    }
    assert ka["raw"]["n_violating_groups"] > 0
    assert ka["suppressed"]["n_violating_groups"] == 0
    assert ka["suppressed"]["k_effective"] >= pending_r10.PRIVACY_K
    auc = pending_r10.eval_quality_auc(spark, SF_DIR).first()
    assert auc["auc"] is not None and 0.0 <= auc["auc"] <= 1.0
    late = pending_r10.stream_late_data_audit(spark, SF_DIR)
    assert late.agg(F.sum("n_late")).first()[0] > 0


def test_er_blocking_never_cross_joins(spark):
    """The ER pipeline's scale contract at the QUERY level: blocking
    is a union of key-grouped equi-self-joins — no CartesianProduct
    or broadcast nested loop anywhere in the physical plan."""
    df = pending_r10.er_customer_golden_records(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
