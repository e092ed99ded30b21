"""Round-15 queries (regression-diagnostic & rank-agreement family):
each one passes the DRIVER-STRENGTH oracle comparison (exact values,
numeric-type-family match, oracle-output-type safety).

Each statistic also carries a plain-python/numpy model pin: the
engine value must equal an independent fold over the same collected
rows, so the oracle and the engine cannot share a common bug."""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from cdc_2025_spark.queries import QUERIES, pending_r15
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
    n for n, f in QUERIES.items() if f.__module__ == pending_r15.__name__
]


@pytest.mark.parametrize("name", NAMES)
def test_pending_oracle_match(spark, duck, name):
    failure = check_registered(spark, duck, name, SF_DIR)
    assert failure is None, f"{name}: {failure}"


@pytest.mark.parametrize("name", NAMES)
def test_pending_outputs_driver_sortable(spark, name):
    bad = container_columns(QUERIES[name](spark, SF_DIR))
    assert not bad, f"{name}: container columns {bad}"


# ---------------------------------------------------------------------------
# python-model pins: the engine equals an independent fold
# ---------------------------------------------------------------------------


def _daily_series(spark):
    rows = pending_r15._daily_revenue_indexed(
        spark, SF_DIR
    ).collect()
    rows.sort(key=lambda r: r["i"])
    return (
        [r["t"] for r in rows],
        [r["y"] for r in rows],
    )


def _ols_resid_py(t, y):
    n = float(len(t))
    st, sy = sum(t), sum(y)
    stt = sum(v * v for v in t)
    sty = sum(a * b for a, b in zip(t, y))
    slope = (sty - st * sy / n) / (stt - st * st / n)
    intercept = sy / n - slope * st / n
    return [b - (intercept + slope * a) for a, b in zip(t, y)]


def test_durbin_watson_matches_python_model(spark):
    t, y = _daily_series(spark)
    e = _ols_resid_py(t, y)
    dw = sum(
        (e[i] - e[i - 1]) ** 2 for i in range(1, len(e))
    ) / sum(v * v for v in e)
    row = pending_r15.stats_durbin_watson_residuals(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_days"] == len(e)
    assert abs(row["dw_stat"] - dw) < 1e-5
    assert abs(row["rho_hat"] - (1 - dw / 2)) < 1e-5
    assert 0.0 < row["dw_stat"] < 4.0


def test_breusch_pagan_matches_python_model(spark):
    import numpy as np

    t, y = _daily_series(spark)
    e = np.array(_ols_resid_py(t, y))
    u = e * e
    r = np.corrcoef(np.array(t), u)[0, 1]
    lm = len(t) * r * r
    row = pending_r15.stats_breusch_pagan_hetero(
        spark, SF_DIR
    ).collect()[0]
    assert abs(row["lm_stat"] - lm) < 1e-4
    assert 0.0 <= row["p_value"] <= 1.0


def test_chow_matches_python_model(spark):
    import numpy as np

    t, y = _daily_series(spark)
    n = len(t)
    half = [i + 1 <= n / 2 for i in range(n)]

    def ssr(tt, yy):
        A = np.vstack([np.ones(len(tt)), np.array(tt)]).T
        res = np.linalg.lstsq(A, np.array(yy), rcond=None)
        pred = A @ res[0]
        return float(((np.array(yy) - pred) ** 2).sum())

    s1 = ssr(
        [a for a, h in zip(t, half) if h],
        [b for b, h in zip(y, half) if h],
    )
    s2 = ssr(
        [a for a, h in zip(t, half) if not h],
        [b for b, h in zip(y, half) if not h],
    )
    sp = ssr(t, y)
    f = ((sp - s1 - s2) / 2) / ((s1 + s2) / (n - 4))
    row = pending_r15.stats_chow_structural_break(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_first"] + row["n_second"] == n
    assert abs(row["f_stat"] - f) < 1e-3
    assert abs(row["ssr_pooled"] - sp) < max(1.0, 1e-9 * sp)


def test_cox_stuart_matches_python_model(spark):
    t, y = _daily_series(spark)
    n = len(y)
    m = (n + 1) // 2
    pairs = [(y[i], y[i + m]) for i in range(n - m)]
    plus = sum(1 for a, b in pairs if b > a)
    minus = sum(1 for a, b in pairs if b < a)
    row = pending_r15.stats_cox_stuart_trend(
        spark, SF_DIR
    ).collect()[0]
    assert (row["n_up"], row["n_down"]) == (plus, minus)
    ne = plus + minus
    z = (abs(plus - ne / 2) - 0.5) / math.sqrt(ne / 4)
    assert abs(row["z_stat"] - z) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def _midranks(vals):
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    r = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while (
            j + 1 < len(order)
            and vals[order[j + 1]] == vals[order[i]]
        ):
            j += 1
        mid = (i + j) / 2.0 + 1.0
        for k in range(i, j + 1):
            r[order[k]] = mid
        i = j + 1
    return r


def test_bartels_matches_python_model(spark):
    t, y = _daily_series(spark)
    r = _midranks(y)
    n = len(r)
    num = sum(
        (r[i] - r[i + 1]) ** 2 for i in range(n - 1)
    )
    den = sum((v - (n + 1) / 2.0) ** 2 for v in r)
    rvn = num / den
    row = pending_r15.stats_bartels_vonneumann_rank(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_days"] == n
    assert abs(row["rvn_stat"] - rvn) < 1e-6
    # randomness benchmark: RVN concentrates near 2 under H0
    assert 0.5 < row["rvn_stat"] < 3.5


def test_mood_median_matches_python_model(spark, duck):
    import numpy as np

    rows = duck.execute(
        """SELECT c_mktsegment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey"""
    ).fetchall()
    vals = np.array([v for _, v in rows])
    med = float(
        np.quantile(vals, 0.5, method="inverted_cdf")
    )
    cells = defaultdict(lambda: [0, 0])
    for seg, v in rows:
        cells[seg][0 if v > med else 1] += 1
    ta = sum(a for a, _ in cells.values())
    tn = sum(b for _, b in cells.values())
    n = ta + tn
    chi2 = 0.0
    for a, b in cells.values():
        rt = a + b
        ea, en = rt * ta / n, rt * tn / n
        chi2 += (a - ea) ** 2 / ea + (b - en) ** 2 / en
    row = pending_r15.stats_mood_median_test(
        spark, SF_DIR
    ).collect()[0]
    assert row["k_segments"] == len(cells)
    assert row["n_orders"] == n
    assert abs(row["chi2"] - chi2) < 1e-4


def test_kendalls_w_matches_python_model(spark, duck):
    rows = duck.execute(
        """SELECT c_mktsegment, year(o_orderdate) AS yr,
                  ROUND(SUM(o_totalprice), 4) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2"""
    ).fetchall()
    by_seg = defaultdict(dict)
    for seg, yr, rev in rows:
        by_seg[seg][yr] = float(rev)
    years = sorted({yr for _, yr, _ in rows})
    m = len(by_seg)
    n = len(years)
    rsum = dict.fromkeys(years, 0.0)
    for seg, yrrev in by_seg.items():
        vals = [yrrev[y] for y in years]
        for y, r in zip(years, _midranks(vals)):
            rsum[y] += r
    mean_r = m * (n + 1) / 2.0
    s = sum((v - mean_r) ** 2 for v in rsum.values())
    w = 12.0 * s / (m * m * (n ** 3 - n))
    row = pending_r15.stats_kendalls_w_concordance(
        spark, SF_DIR
    ).collect()[0]
    assert (row["m_judges"], row["n_years"]) == (m, n)
    assert abs(row["kendalls_w"] - w) < 1e-6
    assert 0.0 <= row["kendalls_w"] <= 1.0


def test_friedman_matches_python_model(spark, duck):
    rows = duck.execute(
        """SELECT year(o_orderdate) AS yr, c_mktsegment AS seg,
                  ROUND(SUM(o_totalprice), 4) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2"""
    ).fetchall()
    by_year = defaultdict(dict)
    for yr, seg, rev in rows:
        by_year[yr][seg] = float(rev)
    segs = sorted({seg for _, seg, _ in rows})
    k = len(segs)
    b = len(by_year)
    rsum = dict.fromkeys(segs, 0.0)
    for yr, segrev in by_year.items():
        vals = [segrev[s_] for s_ in segs]
        for s_, r in zip(segs, _midranks(vals)):
            rsum[s_] += r
    chi2 = (
        12.0 / (b * k * (k + 1))
        * sum(v * v for v in rsum.values())
        - 3.0 * b * (k + 1)
    )
    row = pending_r15.stats_friedman_blocked_ranks(
        spark, SF_DIR
    ).collect()[0]
    assert (row["n_blocks"], row["k_treatments"]) == (b, k)
    assert abs(row["chi2"] - chi2) < 1e-6


def test_cochran_q_matches_python_model(spark, duck):
    rows = duck.execute(
        """SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                  event_type
           FROM events"""
    ).fetchall()
    types = sorted({t for _, _, t in rows})
    k = len(types)
    blocks = defaultdict(set)
    for u, d, t in rows:
        blocks[(u, d)].add(t)
    cj = Counter(t for _, _, t in rows)
    sc = sum(cj.values())
    sc2 = sum(v * v for v in cj.values())
    sr = sum(len(v) for v in blocks.values())
    sr2 = sum(len(v) ** 2 for v in blocks.values())
    q = (k - 1) * (k * sc2 - sc * sc) / (k * sr - sr2)
    row = pending_r15.stats_cochran_q_event_types(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_blocks"] == len(blocks)
    assert row["k_types"] == k
    assert abs(row["q_stat"] - q) < 1e-6
    # the per-day design must be non-degenerate (the all-history
    # version saturates: every user does every type eventually)
    assert (k * sr - sr2) > 0


def test_mrr_matches_python_model(spark, duck):
    from cdc_2025_spark.queries.pending_r10 import SCORE_MOD

    rows = duck.execute(
        f"""SELECT source, doc_id,
                   (n_chars % {SCORE_MOD}) * 1.0 / {SCORE_MOD},
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END
            FROM documents
            WHERE n_chars IS NOT NULL AND lang IS NOT NULL"""
    ).fetchall()
    by_src = defaultdict(list)
    for src, did, score, label in rows:
        by_src[src].append((-score, did, label))
    expect = {}
    for src, lst in by_src.items():
        lst.sort()
        first = next(
            (i + 1 for i, (_, _, lab) in enumerate(lst) if lab),
            0,
        )
        expect[src] = (len(lst), first)
    got = {
        r["source"]: (r["n_docs"], r["first_rel_rank"])
        for r in pending_r15.eval_mrr_first_relevant(
            spark, SF_DIR
        ).collect()
    }
    assert got == expect


def test_rbo_matches_python_model(spark, duck):
    from cdc_2025_spark.queries.pending_r10 import SCORE_MOD

    k, p = pending_r15.RBO_K, 0.5
    rows = duck.execute(
        f"""SELECT doc_id,
                   (n_chars % {SCORE_MOD}) * 1.0 / {SCORE_MOD}
                     AS score,
                   n_chars
            FROM documents
            WHERE n_chars IS NOT NULL AND lang IS NOT NULL"""
    ).fetchall()
    all_rows = duck.execute(
        "SELECT doc_id, n_chars FROM documents"
    ).fetchall()
    rank_a = [
        d for d, _, _ in sorted(rows, key=lambda r: (-r[1], r[0]))
    ][:k]
    rank_b = [
        d for d, _ in sorted(all_rows, key=lambda r: (-r[1], r[0]))
    ][:k]
    rbo = 0.0
    for d in range(1, k + 1):
        agree = len(set(rank_a[:d]) & set(rank_b[:d]))
        rbo += p ** (d - 1) * agree / d
    rbo *= 1 - p
    row = pending_r15.eval_rank_biased_overlap(
        spark, SF_DIR
    ).collect()[0]
    assert abs(row["rbo"] - rbo) < 1e-6
    assert row["n_agree_at_k"] == len(
        set(rank_a) & set(rank_b)
    )
    assert 0.0 <= row["rbo"] <= 1.0


def _py_tf(duck, group_col):
    rows = duck.execute(
        f"SELECT {group_col}, text FROM documents"
        + (
            " WHERE lang IS NOT NULL"
            if group_col == "lang"
            else ""
        )
    ).fetchall()
    tf = defaultdict(Counter)
    for g, text in rows:
        for tok in re.split(r"\s+", text.strip().lower()):
            if tok:
                tf[g][tok] += 1
    return tf


def test_honore_sichel_matches_python_model(spark, duck):
    tf = _py_tf(duck, "source")
    got = {
        r["source"]: r
        for r in pending_r15.text_honore_sichel_hapax(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(tf)
    for src, c in tf.items():
        n = sum(c.values())
        v = len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        v2 = sum(1 for x in c.values() if x == 2)
        row = got[src]
        assert (
            row["n_tokens"],
            row["n_types"],
            row["v1_hapax"],
            row["v2_dis"],
        ) == (n, v, v1, v2)
        r_exp = 100.0 * math.log(n) / (1.0 - v1 / v)
        assert abs(row["honore_r"] - r_exp) < 1e-3


def test_good_turing_matches_python_model(spark, duck):
    tf = _py_tf(duck, "lang")
    got = {
        r["lang"]: r
        for r in pending_r15.text_good_turing_chao1(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(tf)
    for lang, c in tf.items():
        n = sum(c.values())
        v = len(c)
        v1 = sum(1 for x in c.values() if x == 1)
        v2 = sum(1 for x in c.values() if x == 2)
        row = got[lang]
        assert row["v1_hapax"] == v1
        assert abs(row["unseen_mass"] - v1 / n) < 1e-6
        chao = (
            v + v1 * v1 / (2.0 * v2)
            if v2
            else v + v1 * (v1 - 1) / 2.0
        )
        assert abs(row["chao1_vocab"] - chao) < 1e-3
        # Chao1 is a lower bound on total vocabulary >= observed V
        assert row["chao1_vocab"] >= v


def test_readability_matches_python_model(spark, duck):
    rows = duck.execute(
        "SELECT source, text FROM documents"
    ).fetchall()
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for src, text in rows:
        toks = [
            t
            for t in re.split(r"\s+", text.strip().lower())
            if t
        ]
        chars = len(text.strip().replace(" ", ""))
        sents = max(text.count("."), 1)
        a = agg[src]
        a[0] += 1
        a[1] += len(toks)
        a[2] += chars
        a[3] += sents
    got = {
        r["source"]: r
        for r in pending_r15.text_readability_indices(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(agg)
    for src, (nd, w, c, s) in agg.items():
        row = got[src]
        assert (row["n_docs"], row["n_words"], row["n_sentences"]) \
            == (nd, w, s)
        ari = 4.71 * c / w + 0.5 * w / s - 21.43
        cli = 0.0588 * (100.0 * c / w) - 0.296 * (100.0 * s / w) - 15.8
        assert abs(row["ari"] - ari) < 1e-3
        assert abs(row["coleman_liau"] - cli) < 1e-3


def test_g2_keyness_matches_python_model(spark, duck):
    rows = duck.execute(
        "SELECT source, text FROM documents"
    ).fetchall()
    a_cnt, b_cnt = Counter(), Counter()
    for src, text in rows:
        tgt = a_cnt if src == pending_r15.KEYNESS_FOCUS else b_cnt
        for tok in re.split(r"\s+", text.strip().lower()):
            if tok:
                tgt[tok] += 1
    ta = sum(a_cnt.values())
    tb = sum(b_cnt.values())
    scored = []
    for tok, a in a_cnt.items():
        b = b_cnt.get(tok, 0)
        if a < pending_r15.KEYNESS_MIN_FOCUS or a / ta <= b / tb:
            continue
        e1 = ta * (a + b) / (ta + tb)
        e2 = tb * (a + b) / (ta + tb)
        g2 = 2.0 * (
            a * math.log(a / e1)
            + (b * math.log(b / e2) if b else 0.0)
        )
        scored.append((-g2, tok, a, b))
    scored.sort()
    expect = scored[: pending_r15.KEYNESS_TOP]
    got = pending_r15.text_g2_keyness_sources(
        spark, SF_DIR
    ).collect()
    assert len(got) == len(expect)
    for row, (negg2, tok, a, b) in zip(got, expect):
        assert row["term"] == tok
        assert (row["focus_count"], row["rest_count"]) == (a, b)
        assert abs(row["g2"] - (-negg2)) < 1e-4
        # overuse direction: every listed term leans into the focus
        assert a / ta > b / tb


def test_kish_matches_python_model(spark, duck):
    rows = duck.execute(
        """SELECT c_mktsegment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey"""
    ).fetchall()
    by_seg = defaultdict(list)
    for seg, w in rows:
        by_seg[seg].append(w)
    got = {
        r["segment"]: r
        for r in pending_r15.sample_kish_design_effect(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(by_seg)
    for seg, ws in by_seg.items():
        n = len(ws)
        deff = n * sum(w * w for w in ws) / sum(ws) ** 2
        row = got[seg]
        assert row["n_orders"] == n
        assert abs(row["deff"] - deff) < 1e-5
        # Cauchy-Schwarz: deff >= 1, with equality iff equal weights
        assert row["deff"] >= 1.0
        assert row["n_eff"] <= n


def _backbone_edges_py(spark):
    und = [
        (r["src"], r["dst"])
        for r in __import__(
            "cdc_2025_spark.queries.pending_r13",
            fromlist=["_backbone_und_edges"],
        )._backbone_und_edges(spark, SF_DIR).collect()
    ]
    adj = defaultdict(set)
    for s, d in und:
        adj[s].add(d)
    return adj


def test_katz_matches_python_model(spark):
    adj = _backbone_edges_py(spark)
    p = {v: len(nbrs) for v, nbrs in adj.items()}
    paths = [dict(p)]
    for _ in range(3):
        prev = paths[-1]
        paths.append(
            {
                v: sum(prev.get(u, 0) for u in adj[v])
                for v in adj
            }
        )
    got = {
        r["node"]: r
        for r in pending_r15.graph_katz_centrality(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(adj)
    for v in adj:
        scaled = (
            512 * paths[0][v]
            + 64 * paths[1][v]
            + 8 * paths[2][v]
            + paths[3][v]
        )
        assert got[v]["katz_scaled"] == scaled
        assert got[v]["degree"] == len(adj[v])
        assert got[v]["katz"] == round(scaled / 4096.0, 6)


def test_hits_matches_python_model_and_float_ranking(spark):
    dir_e = [
        (r["src"], r["dst"])
        for r in pending_r15._backbone_dir_edges(
            spark, SF_DIR
        ).collect()
    ]
    out_adj, in_adj = defaultdict(set), defaultdict(set)
    nodes = set()
    for s, d in dir_e:
        out_adj[s].add(d)
        in_adj[d].add(s)
        nodes.update((s, d))
    a = {v: len(in_adj[v]) for v in nodes}
    h = {
        v: sum(a[u] for u in out_adj[v]) for v in nodes
    }
    a2 = {
        v: sum(h[u] for u in in_adj[v]) for v in nodes
    }
    h2 = {
        v: sum(a2[u] for u in out_adj[v]) for v in nodes
    }
    got = {
        r["node"]: r
        for r in pending_r15.graph_hits_hubs_authorities(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == nodes
    for v in nodes:
        assert got[v]["auth_raw"] == a2[v]
        assert got[v]["hub_raw"] == h2[v]
    # ranking agrees with the textbook per-iteration L2-normalized
    # float HITS (scalar normalizations cannot reorder scores)
    import numpy as np

    order = sorted(nodes)
    A = np.zeros((len(order), len(order)))
    pos = {v: i for i, v in enumerate(order)}
    for s, d in dir_e:
        A[pos[s], pos[d]] = 1.0
    # mirror the engine's iteration structure (h0 = 1: a1 = A^T h0,
    # h1 = A a1, a2 = A^T h1) with the textbook per-step L2
    # normalization inserted — pure scalar rescales
    af = A.T @ np.ones(len(order))
    af /= np.linalg.norm(af)
    af = A.T @ (A @ af)
    af /= np.linalg.norm(af)
    ranks_float = np.argsort(-af, kind="stable")
    engine_auth = np.array([got[v]["auth_raw"] for v in order])
    ranks_engine = np.argsort(-engine_auth, kind="stable")
    assert list(ranks_float) == list(ranks_engine)


def test_reciprocity_matches_python_model(spark):
    dir_e = {
        (r["src"], r["dst"])
        for r in pending_r15._backbone_dir_edges(
            spark, SF_DIR
        ).collect()
    }
    mutual = sum(1 for s, d in dir_e if (d, s) in dir_e)
    nodes = {v for e in dir_e for v in e}
    row = pending_r15.graph_reciprocity_density(
        spark, SF_DIR
    ).collect()[0]
    assert row["n_edges"] == len(dir_e)
    assert row["n_mutual"] == mutual
    assert row["n_nodes"] == len(nodes)
    assert 0.0 <= row["reciprocity"] <= 1.0
    assert 0.0 < row["density"] <= 1.0


def test_versioned_optimize_audit_structure(spark):
    """Beyond the oracle: the audit's manifest facts reflect a real
    compaction — version 4 of a 3-append table, 3 dirs before, 1
    after, and time travel to the fragmented snapshot still works."""
    from cdc_2025_spark.queries.pending_r13 import (
        memo_versioned_table,
    )
    from cdc_2025_spark.versioned import read_versioned

    row = pending_r15.versioned_optimize_audit(
        spark, SF_DIR
    ).collect()[0]
    assert row["final_version"] == 4
    assert row["n_dirs_before"] == 3
    assert row["n_dirs_after"] == 1
    # time travel to the pre-optimize snapshot: identical rows
    table = memo_versioned_table(
        spark, SF_DIR, "versioned_opt", lambda p: None
    )
    pre = read_versioned(spark, table, 3)
    post = read_versioned(spark, table, 4)
    assert sorted(map(tuple, pre.collect())) == sorted(
        map(tuple, post.collect())
    )


# ---------------------------------------------------------------------------
# wave-2 model pins
# ---------------------------------------------------------------------------


def _daily_counts(duck):
    rows = duck.execute(
        """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
           FROM events GROUP BY 1 ORDER BY day"""
    ).fetchall()
    return [float(x) for _, x in rows]


def test_pacf_matches_python_model(spark, duck):
    import numpy as np

    x = np.array(_daily_counts(duck))
    e = x - x.mean()
    ss = float((e * e).sum())
    rho = [
        float((e[:-k] * e[k:]).sum()) / ss for k in (1, 2, 3)
    ]
    r1, r2, r3 = rho
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1 - phi21 * r1 - phi22 * r2
    )
    row = pending_r15.stats_pacf_daily(spark, SF_DIR).collect()[0]
    assert row["n_days"] == len(x)
    assert abs(row["pacf1"] - r1) < 1e-6
    assert abs(row["pacf2"] - phi22) < 1e-6
    assert abs(row["pacf3"] - phi33) < 1e-6


def test_theils_u_matches_python_model(spark, duck):
    import numpy as np

    rows = duck.execute(
        """SELECT CAST(o_orderdate AS DATE) AS day,
                  ROUND(SUM(o_totalprice), 4) AS y
           FROM orders GROUP BY 1 ORDER BY day"""
    ).fetchall()
    y = np.array([float(v) for _, v in rows])
    yy, nv, sv = y[7:], y[6:-1], y[:-7]
    mse_s = float(((yy - sv) ** 2).mean())
    mse_n = float(((yy - nv) ** 2).mean())
    row = pending_r15.forecast_theils_u(spark, SF_DIR).collect()[0]
    assert row["n_days"] == len(yy)
    assert abs(row["theils_u2"] - math.sqrt(mse_s / mse_n)) < 1e-5
    assert row["rmse_snaive"] > 0 and row["rmse_naive"] > 0


def test_page_hinkley_matches_python_model(spark, duck):
    x = _daily_counts(duck)
    mu = sum(x) / len(x)
    cum, mx, best, best_day = 0.0, 0.0, -1.0, None
    days = duck.execute(
        """SELECT CAST(ts AS DATE) AS day FROM events
           GROUP BY 1 ORDER BY day"""
    ).fetchall()
    for (day,), v in zip(days, x):
        cum += v - mu
        mx = max(mx, cum)
        dd = mx - cum
        if dd > best:
            best, best_day = dd, day
    row = pending_r15.events_page_hinkley(spark, SF_DIR).collect()[0]
    assert abs(row["ph_stat"] - best) < 1e-6
    assert row["alarm_day"] == str(best_day)


def test_runs_updown_matches_python_model(spark, duck):
    rows = duck.execute(
        """SELECT CAST(o_orderdate AS DATE) AS day,
                  ROUND(SUM(o_totalprice), 4) AS y
           FROM orders GROUP BY 1 ORDER BY day"""
    ).fetchall()
    y = [float(v) for _, v in rows]
    signs = [
        1 if b > a else -1
        for a, b in zip(y, y[1:])
        if b != a
    ]
    n = len(signs)
    r = 1 + sum(
        1 for a, b in zip(signs, signs[1:]) if a != b
    )
    row = pending_r15.stats_runs_updown_daily(
        spark, SF_DIR
    ).collect()[0]
    assert (row["n_moves"], row["n_runs"]) == (n, r)
    er = (2 * n - 1) / 3
    assert abs(row["expected_runs"] - er) < 1e-6


def test_markov_stationary_matches_python_model(spark, duck):
    rows = duck.execute(
        """WITH seq AS (
             SELECT event_type AS f,
                    LEAD(event_type) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                    ) AS t
             FROM events)
           SELECT f, t, COUNT(*) FROM seq
           WHERE t IS NOT NULL GROUP BY 1, 2"""
    ).fetchall()
    types = sorted({f for f, _, _ in rows} | {t for _, t, _ in rows})
    out_tot = defaultdict(float)
    for f, _, c in rows:
        out_tot[f] += c
    p = {(f, t): c / out_tot[f] for f, t, c in rows}
    pi = dict.fromkeys(types, 1.0 / len(types))
    for _ in range(pending_r15.MARKOV_ITERS):
        nxt = dict.fromkeys(types, 0.0)
        for (f, t), pv in p.items():
            nxt[t] += pi[f] * pv
        pi = nxt
    got = {
        r["event_type"]: r
        for r in pending_r15.events_markov_stationary(
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(types)
    for t in types:
        assert abs(got[t]["p_stationary"] - pi[t]) < 1e-5
    # a probability vector, and it should be near the empirical
    # long-run shares if the chain mixes (loose sanity band)
    assert abs(sum(r["p_stationary"] for r in got.values()) - 1.0) < 1e-4
    for t in types:
        assert (
            abs(got[t]["p_stationary"] - got[t]["p_empirical"]) < 0.2
        )
