"""analytics_sf0.01: the 17 headline queries of ``webcrawler_spark.queries``
over generated TPC-H-ish tables, read-only.

Input: tables with the schema of the repository's TPC-H-ish test tables
(orders, lineitem, events, documents, embeddings) at scale factor 0.01,
125 documents, generated here from the seed and written as parquet. One
operation is one pass over the 17 queries, each collected to the driver,
timed after one untimed warm-up pass (see ``WARM_UP_PASSES``).

Check: each query's rows equal its ``ORACLE_SQL`` twin run in DuckDB over
the same parquet files, with columns sorted by name, floats rounded to 9
places and rows sorted (the comparison tests/test_entry_contract.py makes).
For recorded seeds the DuckDB rows are known by their hash.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import numpy as np

# the legacy bench.py HEADLINE set, pinned here so the load cannot change
# with that file
QUERIES = (
    "frontier_topk_per_host",
    "priority_drain",
    "rate_limit_gate",
    "content_dedup",
    "keywords_global",
    "search_score",
    "analytics_overview",
    "ann_cosine_topk",
    "lineitem_pricing",
    "minhash_near_dups",
    "search_fuzzy",
    "lang_id_multi",
    "global_budget_drain",
    "cuckoo_ttl_stats",
    "dup_ngram_spans",
    "mirror_hosts",
    "surt_prefix_scan",
)
TABLES = ("orders", "lineitem", "events", "documents", "embeddings")
SF = 0.01
# a fresh session's first pass takes about twice a later one (JIT, code
# generation, Python worker start) and varies most from run to run
WARM_UP_PASSES = 1

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


def generate_tables(seed: int, sf: float = SF) -> dict:
    """pandas frames shaped like the repository's test tables: uniform
    keys and prices, 5% near-duplicate documents (an earlier text plus
    " dup"), random unit embeddings."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = 125, 500
    day = np.timedelta64(1, "D")

    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": np.datetime64("1995-01-01") + rng.integers(0, 2404, n_orders) * day,
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object), n_orders),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, int(200_000 * sf), n_lines),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_lines),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_lines),
        "l_shipdate": np.datetime64("1995-01-02") + rng.integers(0, 2498, n_lines) * day,
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": start + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(np.array(
            ["view", "click", "purchase", "signup", "error"], dtype=object), n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 101)))))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(_LANGS, dtype=object), n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents, "embeddings": embeddings}


def fingerprint(tables: dict) -> dict:
    """Row count plus an order-independent hash (sum of per-row hashes mod
    2^64) of every table."""
    import pandas as pd

    out = {}
    for name, df in sorted(tables.items()):
        hashable = df.copy()
        if name == "embeddings":
            hashable["embedding"] = [v.tobytes().hex() for v in df["embedding"]]
        rows = pd.util.hash_pandas_object(hashable, index=False).to_numpy(np.uint64)
        out[name] = {"rows": len(df), "hash": f"{int(rows.sum(dtype=np.uint64)):016x}"}
    return out


def oracle_key() -> str:
    """Identifies the reference: the DuckDB version and the SQL text of the
    17 queries. Recorded result hashes are valid only under the same key."""
    import duckdb

    from webcrawler_spark.queries import ORACLE_SQL

    text = "\0".join([duckdb.__version__] + [ORACLE_SQL[q] for q in QUERIES])
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def rows_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def normalize(rows, colnames) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda row: tuple((v is None, repr(v)) for v in row))


class Analytics:
    name = "analytics_sf0.01"
    LAYER_UNITS = {f"query.{q}_s": "s" for q in QUERIES}

    # table generation is repeated; setup_s takes the median
    SETUP_REPS = 3
    # spans only time the queries: a traced pass runs the same plans
    SPANS_CHANGE_PLAN = False

    def __init__(self, work: str):
        self.data_dir = os.path.join(work, "tables")
        os.makedirs(self.data_dir, exist_ok=True)

    # ---- set-up ------------------------------------------------------------
    def make_inputs(self, spark, seed: int) -> None:
        """Writes the tables as parquet; the queries read them themselves."""
        self.seed, self.tables = seed, generate_tables(seed)
        for name, df in self.tables.items():
            df.to_parquet(os.path.join(self.data_dir, f"{name}.parquet"), index=False)

    def inputs_fingerprint(self) -> dict:
        self.inputs = fingerprint(self.tables)
        return self.inputs

    def _oracle(self) -> dict:
        import duckdb

        from webcrawler_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'"
                )
            out = {}
            for q in QUERIES:
                res = con.execute(ORACLE_SQL[q])
                out[q] = normalize(res.fetchall(), [d[0] for d in res.description])
            return out
        finally:
            con.close()

    def prepare(self, spark) -> None:
        """The reference results (the hashes recorded for this seed when its
        inputs and the oracle key match the record, else DuckDB now), then
        WARM_UP_PASSES untimed passes."""
        from perfbench.workloads import load_fingerprints

        t = time.perf_counter()
        rec = load_fingerprints().get(self.name, {}).get(str(self.seed), {})
        if rec.get("inputs") == self.inputs and rec.get("oracle_key") == oracle_key():
            self.oracle_hashes, self.oracle = rec["oracle"], None
        else:
            self.oracle_hashes, self.oracle = None, self._oracle()
        for _ in range(WARM_UP_PASSES):
            for q in QUERIES:
                self._run_query(spark, q)
        self.prepare_s = time.perf_counter() - t

    def _matches(self, q: str, rows: list[tuple]) -> bool:
        """Equal to DuckDB's rows. A recorded hash that differs is settled by
        running DuckDB, since equal values can print differently (1 vs 1.0)."""
        if self.oracle is None and rows_hash(rows) == self.oracle_hashes[q]:
            return True
        if self.oracle is None:
            self.oracle = self._oracle()
        return rows == self.oracle[q]

    def fingerprint_of(self, spark, seed: int) -> dict:
        return fingerprint(generate_tables(seed))

    def record(self, spark, seed: int) -> dict:
        """The inputs' fingerprint and the hash of DuckDB's normalized rows
        for every query."""
        self.make_inputs(spark, seed)
        inputs = self.inputs_fingerprint()
        oracle = self._oracle()
        return {
            "inputs": inputs,
            "oracle_key": oracle_key(),
            "oracle": {q: rows_hash(rows) for q, rows in oracle.items()},
        }

    # ---- the operation -----------------------------------------------------
    def _run_query(self, spark, q: str):
        from webcrawler_spark.queries import QUERIES as REGISTRY

        df = REGISTRY[q](spark, self.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def run_op(self, spark, tracer) -> dict:
        from perfbench.trace import maybe_span

        results = {}
        t = time.perf_counter()
        with maybe_span(tracer, "op"):
            for q in QUERIES:
                with maybe_span(tracer, f"query.{q}"):
                    results[q] = self._run_query(spark, q)
        seconds = time.perf_counter() - t
        notes = [
            f"{q}: result differs from DuckDB"
            for q, (cols, rows) in results.items()
            if not self._matches(q, normalize(rows, cols))
        ]
        return {
            "seconds": seconds,
            "items": len(QUERIES),
            "attempted": len(QUERIES),
            "failed": len(notes),
            "notes": notes,
        }

    # ---- reporting ---------------------------------------------------------
    def layer_metrics(self, spark, tracer, traced: list[dict]) -> dict:
        return {
            f"query.{q}_s": statistics.median(
                s["end"] - s["start"] for s in tracer.named(f"query.{q}")
            )
            for q in QUERIES
        }

    def summary(self, plain: list[dict]) -> list[tuple[str, list[float], str]]:
        return [("analytics_pass_s", [r["seconds"] for r in plain], "s")]

    def close(self, spark) -> None:
        pass
