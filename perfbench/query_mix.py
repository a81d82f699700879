"""``query_mix``: the ten headline registry queries, fully materialised.

Set-up writes, from the workload seed, the tables the headline queries
read, with the row counts and column distributions of the repository's
sf0.01 testdata (measured from its parquet files; see NOTES.md), then
runs ``WARMUP_PASSES`` untimed passes.  sf0.01 is a tenth of the sf0.1
scale ``bench.py`` uses: an sf0.1 pass takes ~32 s warm and ~45 s cold
on 4 cores, and a run has ~70 s in all.  An op is one query built
through ``relational.registry.QUERIES`` and run to completion with
``toArrow()`` — never ``count()``, which lets Catalyst prune the
projected columns.  Collecting (rather than the ``noop`` writer) keeps
each timed op's own output for the check; the results are at most
~10k rows.  The timed window runs whole passes, each in a seed-drawn
order, so every query contributes the same number of ops.  After the
window every op's output is compared with its query's DuckDB oracle SQL
by an order-insensitive value hash (the normalisation of
``tools/check_conformance.py``).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.check_conformance import normalize_df

HEADLINE = (
    "pricing_summary", "broadcast_part_revenue", "outer_customer_orders",
    "window_rank_orders", "session_windows", "search_tfidf",
    "lsh_near_dup_pairs", "simhash", "cosine_topk", "ann_lsh_pairs",
)
WARMUP_PASSES = 1

# row counts (and distinct event users) of the sf0.01 testdata; at sf0.1
# every count is ten times larger except documents (5,000) and
# embeddings (2,000)
ROWS = {"lineitem": 60_000, "orders": 15_000, "customer": 1_500,
        "part": 2_000, "supplier": 100, "events": 10_000, "users": 150,
        "documents": 500, "embeddings": 500}
# the testdata's document vocabulary; near-duplicates add "dup"
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
DUP_SHARE = 0.05
DIM = 64
DAY = 86_400


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (seconds * 1e6).astype("timedelta64[us]"))


def _documents(rng, n: int) -> list[str]:
    """Texts of 10-100 words drawn uniformly from VOCAB; 5% are another
    document's text plus " dup"."""
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(10, 101)))])
             for _ in range(n)]
    for i in np.sort(rng.choice(n, int(n * DUP_SHARE), replace=False)):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return texts


def generate(seed: int, out_dir: str) -> None:
    """Write every table the headline queries read, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS

    def pick(options, size):
        return pa.array(np.array(options)[rng.integers(0, len(options), size)])

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    li, no, nc, npt = n["lineitem"], n["orders"], n["customer"], n["part"]
    ne = n["events"]
    tables = {
        "lineitem": {
            "l_orderkey": rng.integers(0, no, li),
            "l_partkey": rng.integers(0, npt, li),
            "l_suppkey": rng.integers(0, n["supplier"], li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], li),
            "l_linestatus": pick(["O", "F"], li),
            "l_shipdate": _ts("1995-01-01", rng.integers(1, 2500, li) * DAY),
        },
        "orders": {
            "o_orderkey": np.arange(no),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": pick(["O", "F", "P"], no),
            "o_totalprice": money(1000, 500_000, no),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * DAY),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no),
        },
        "customer": {
            "c_custkey": np.arange(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, nc),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc),
        },
        "part": {
            "p_partkey": np.arange(npt),
            "p_name": pick([f"{a} {b}" for a in ("blue", "cold", "hot",
                                                 "large", "new", "old", "red",
                                                 "small")
                            for b in ("anvil", "bolt", "gear", "gizmo",
                                      "plate", "ring", "rod", "widget")],
                           npt),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npt)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npt),
            "p_size": rng.integers(1, 51, npt).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10, 2),
        },
        "events": {
            "event_id": np.arange(ne),
            "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * DAY, ne))),
            "user_id": rng.integers(0, n["users"], ne),
            "event_type": pick(["view", "click", "signup", "purchase",
                                "error"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
    }
    nd = n["documents"]
    texts = _documents(rng, nd)
    tables["documents"] = {
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts]),
    }
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(nv),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))


def value_hash(df) -> str:
    """Order-insensitive hash of a pandas frame, normalised as the
    repository's Spark-vs-DuckDB conformance check does."""
    return hashlib.sha256(repr(normalize_df(df)).encode()).hexdigest()


class QueryMix:
    name = "query_mix"
    round_size = len(HEADLINE)  # a round is one pass over every query

    def __init__(self, spark, work, spans, seed: int, timers=None):
        from commentsearchengine_spark.relational.registry import QUERIES

        self.spark = spark
        self.spans = spans
        self.data = work.sub("data")
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.fns = {q: QUERIES[q][0] for q in HEADLINE}
        self.sqls = {q: QUERIES[q][1] for q in HEADLINE}
        self._pending: list[str] = []

    def setup(self) -> None:
        generate(self.seed, self.data)
        for _ in range(WARMUP_PASSES):
            for q in HEADLINE:
                self._materialise(q)

    def _materialise(self, q: str):
        """Run one query to completion and bring its rows to the driver
        (Arrow).  Returns (seconds, result table)."""
        with self.spans.span("query.op", query=q):
            t0 = time.perf_counter()
            table = self.fns[q](self.spark, self.data).toArrow()
            return time.perf_counter() - t0, table

    def run_op(self) -> dict:
        """The next query of the current pass; a new pass draws a new
        order from the seed."""
        if not self._pending:
            self._pending = [HEADLINE[i] for i in
                             self.rng.permutation(len(HEADLINE))]
        q = self._pending.pop()
        wall, table = self._materialise(q)
        return {"wall": wall, "work": 1, "ok": None, "query": q,
                "rows": table}

    def check(self, ops: list[dict]) -> None:
        """Compare every op's rows with its query's DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("lineitem", "orders", "customer", "part", "events",
                      "documents", "embeddings"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
            want: dict[str, str] = {}
            for op in ops:
                q = op.get("query")
                if q is None or op["ok"] is False:
                    continue
                with self.spans.span("query.check", query=q):
                    if q not in want:
                        want[q] = value_hash(
                            con.execute(self.sqls[q]).fetchdf())
                    got = value_hash(op.pop("rows").to_pandas())
                    op["ok"] = got == want[q]
                if not op["ok"]:
                    print(f"query_mix: {q} differs from its DuckDB oracle",
                          file=sys.stderr, flush=True)
        finally:
            con.close()

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        med = statistics.median
        out = {f"query.{q}_s": med(o["wall"] for o in ops if o["query"] == q)
               for q in HEADLINE}
        passes: dict[int, float] = {}
        for o in ops:
            passes[o["round"]] = passes.get(o["round"], 0.0) + o["wall"]
        out["query.pass_s"] = med(passes.values())
        return out
