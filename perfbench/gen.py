"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes
byte-identical parquet files. The engine only ever sees these files.

- ``write_star_schema``: the TPC-H-like star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables, with the column
  names, types and value domains of the engine's testdata tables.
- ``ChangeLog``: a CDC change log (Zipf-skewed keys, I/U/D mix) cut
  into batches, plus the last-writer-wins replay used as its oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel",
          "brass", "copper", "plated", "polished", "burnished"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]
STOPWORDS = ("a the key agg row scan slow fast table value part hash merge batch "
             "spark line sort window data column join small big order customer "
             "query filter stream group vector").split()
# a Zipf-popular vocabulary: the stop words above, then rarer terms, so
# shingle frequencies look like text rather than word salad
VOCAB = STOPWORDS + [f"t{i}" for i in range(4000)]
_VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_VOCAB_P /= _VOCAB_P.sum()

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(pd.Timestamp("1995-01-01").value // 1000)
_EPOCH_2024 = int(pd.Timestamp("2024-01-01").value // 1000)


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False)


def _ts(us: np.ndarray) -> np.ndarray:
    return np.asarray(us, dtype="int64").astype("datetime64[us]")


def write_documents(rng: np.random.Generator, n: int, path: str) -> None:
    """Word-salad documents over a Zipf vocabulary. A fixed share are
    exact copies (8 %) or near-copies with a few words swapped (25 %)
    of an earlier document; the seed picks which, so every seed gives
    the same amount of duplicate structure."""
    vocab = np.array(VOCAB)
    role = np.zeros(n, dtype=int)
    picked = 1 + rng.permutation(n - 1)
    n_exact, n_near = round(0.08 * n), round(0.25 * n)
    role[picked[:n_exact]] = 1
    role[picked[n_exact:n_exact + n_near]] = 2
    lengths = rng.permutation(np.linspace(8, 80, n).astype(int))
    texts: list[str] = []
    for i in range(n):
        if role[i] == 0:
            texts.append(" ".join(vocab[rng.choice(len(vocab), size=lengths[i], p=_VOCAB_P)]))
            continue
        words = texts[int(rng.integers(0, i))].split()
        if role[i] == 2:
            for j in rng.choice(len(words), size=max(1, len(words) // 12), replace=False):
                words[j] = str(vocab[rng.choice(len(vocab), p=_VOCAB_P)])
        texts.append(" ".join(words))
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype="int64"),
                "text": texts,
                "lang": rng.choice(LANGS, size=n, p=LANG_P),
                "source": [f"src{s}" for s in rng.integers(0, 20, size=n)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        ),
        path,
    )


def write_embeddings(rng: np.random.Generator, n: int, path: str) -> None:
    """Unit vectors (dim 64) around ten label centroids; a fixed 10 %
    are near-copies of another vector, so similarity joins find pairs."""
    centers = rng.normal(size=(10, 64))
    labels = rng.permutation(np.arange(n) % 10)
    vecs = centers[labels] * 0.35 + rng.normal(size=(n, 64))
    dup = rng.permutation(n)[: round(0.1 * n)]
    src = rng.integers(0, n, size=len(dup))
    vecs[dup] = vecs[src] + rng.normal(scale=0.02, size=(len(dup), 64))
    labels[dup] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype="int64"),
                "embedding": list(vecs),
                "label": labels.astype("int32"),
            }
        ),
        path,
    )


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """All ten tables the registered queries read, at scale ``sf``
    (sf=0.1 is 150k orders / ~600k lineitems, like the testdata)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    def path(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(
        pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        path("region"),
    )
    nk = np.arange(25, dtype="int32")
    _write(
        pd.DataFrame(
            {
                "n_nationkey": nk,
                "n_name": [f"NATION_{i}" for i in nk],
                "n_regionkey": (nk % 5).astype("int32"),
            }
        ),
        path("nation"),
    )
    n_cust = max(15, int(150_000 * sf))
    ck = np.arange(n_cust, dtype="int64")
    _write(
        pd.DataFrame(
            {
                "c_custkey": ck,
                "c_name": [f"Customer#{i:09d}" for i in ck],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        path("customer"),
    )
    n_supp = max(10, int(10_000 * sf))
    sk = np.arange(n_supp, dtype="int64")
    _write(
        pd.DataFrame(
            {
                "s_suppkey": sk,
                "s_name": [f"Supplier#{i:09d}" for i in sk],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        path("supplier"),
    )
    n_part = max(200, int(200_000 * sf))
    pk = np.arange(n_part, dtype="int64")
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    _write(
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, len(COLORS), n_part),
                        rng.integers(0, len(NOUNS), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": retail,
            }
        ),
        path("part"),
    )
    n_ord = max(1500, int(1_500_000 * sf))
    ok = np.arange(n_ord, dtype="int64")
    odate = _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US
    _write(
        pd.DataFrame(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _ts(odate),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        path("orders"),
    )
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_part = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(
        pd.DataFrame(
            {
                "l_orderkey": l_ok,
                "l_partkey": l_part,
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[l_part], 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _ts(
                    np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US
                ),
            }
        ),
        path("lineitem"),
    )
    n_ev = max(1000, int(1_000_000 * sf))
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype="int64"),
                "ts": _ts(ts),
                "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(
                    "int64"
                ),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        path("events"),
    )
    n_docs = max(500, int(50_000 * sf))
    write_documents(rng, n_docs, path("documents"))
    write_embeddings(rng, max(500, int(20_000 * sf)), path("embeddings"))


def zipf_choice(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """``size`` draws from 0..n-1 with P(k) proportional to 1/(k+1)^a."""
    p = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=p / p.sum())


class ChangeLog:
    """A seeded CDC change log over integer keys.

    Batch 0 inserts the initial key population; every later batch holds
    ``batch_size`` changes on Zipf-skewed keys: an insert of a dead or
    new key, else a delete (``DELETE_SHARE``) or an update of the live
    key. ``op_ts`` is strictly increasing across the whole log and
    ``_seq`` numbers the changes, so last-writer-wins order is total.
    """

    PAYLOAD_CHARS = 48
    # logical bytes of one change (id, op, op_ts, _seq, val, payload) and
    # of one live snapshot row (id, val, payload)
    CHANGE_BYTES = 8 + 1 + 8 + 8 + 8 + PAYLOAD_CHARS
    LIVE_BYTES = 8 + 8 + PAYLOAD_CHARS

    SKEW = 1.1
    DELETE_SHARE = 0.1

    def __init__(self, seed: int, n_keys: int, batch_size: int):
        self.rng = np.random.default_rng([seed, 3])
        self.n_keys = n_keys
        self.batch_size = batch_size
        self.state: dict[int, tuple[float, str]] = {}
        self.seq = 0
        self.n_batches = 0
        # a random key order, so Zipf-hot keys are spread over the range
        self.key_order = self.rng.permutation(n_keys * 2).astype("int64")

    def _payload(self, k: int) -> str:
        tag = f"k{k}-s{self.seq}-"
        return (tag * (self.PAYLOAD_CHARS // len(tag) + 1))[: self.PAYLOAD_CHARS]

    def next_batch(self) -> pd.DataFrame:
        """The next batch as a frame; also advances the replay state."""
        if self.n_batches == 0:
            keys = self.key_order[: self.n_keys]
        else:
            keys = self.key_order[
                zipf_choice(self.rng, len(self.key_order), self.batch_size, self.SKEW)
            ]
        rows = []
        for k, r in zip(keys.tolist(), self.rng.random(len(keys)).tolist()):
            self.seq += 1
            if k not in self.state:
                op = "I"
            else:
                op = "D" if r < self.DELETE_SHARE else "U"
            val = float(np.round(self.rng.uniform(0.0, 1000.0), 2))
            pay = self._payload(k)
            rows.append((k, op, self.seq * 1000, self.seq, val, pay))
            if op == "D":
                del self.state[k]
            else:
                self.state[k] = (val, pay)
        self.n_batches += 1
        return pd.DataFrame(rows, columns=["id", "op", "op_ts", "_seq", "val", "payload"])

    def hot_keys(self, n: int) -> list[int]:
        """``n`` Zipf-drawn keys (reads favour the same keys as writes)."""
        idx = zipf_choice(self.rng, len(self.key_order), n, self.SKEW)
        return [int(k) for k in self.key_order[idx]]
