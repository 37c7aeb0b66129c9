"""analyst_queries: many short read-only queries from one closed-loop
client.

The op is one query from a pinned mix (one registry query per family,
plus the index-backed BM25 and phrase lookups), collected fully to the
driver. Ops run as seed-shuffled whole passes over the mix, so every
run times the same multiset of queries and its median does not depend
on which queries happened to fit in the window.

Build (``build_s``): the positional text index is built over the
generated documents, then every mix op runs once cold.
Nothing is written after build, so the state every timed op sees is
fixed by the seed.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import gen
from .harness import Run, SparkCounters, cpu_canary_s, median, start_spark
from .reference import TextCorpus, canonical_hash, ranking_matches

# (op, family). Registry queries are each checked against DuckDB
# running the query's SQL twin; the lookups against brute force. An odd
# mix size puts a run's median on the samples of one query instead of
# between the slowest sample of one and the fastest of the next.
MIX = [
    ("pricing_summary", "relational"),
    ("window_rank_family", "window"),
    ("twap_daily", "finance"),
    ("dedup_exact", "dedup"),
    ("knn_bruteforce", "similarity"),
    ("bm25_search_index", "text"),
    ("phrase_search_index", "text"),
]
FAMILIES = ["relational", "window", "finance", "text", "dedup", "similarity"]
SEARCH_OPS = {"bm25_search_index", "phrase_search_index"}
TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]
TOP_K = 10
MIN_PASSES = 2  # timed passes per run, whatever --seconds says
MIN_OPS = MIN_PASSES * len(MIX)


def draw_params(name: str, rng, corpus_ids: list[int], corpus_tokens) -> dict:
    """Seeded request parameters: Zipf-skewed BM25 terms, or a phrase
    taken from a corpus document."""
    if name == "bm25_search_index":
        n = int(rng.integers(2, 4))
        weights = gen.zipf_weights(len(gen.VOCAB))
        return {"terms": [str(t) for t in rng.choice(gen.VOCAB, n, p=weights)]}
    if name == "phrase_search_index":
        toks = corpus_tokens[corpus_ids[int(rng.integers(0, len(corpus_ids)))]]
        i = int(rng.integers(0, len(toks) - 1))
        return {"terms": toks[i:i + 2]}
    return {}


def schedule(seed: int, *corpus):
    """Endless op stream: seed-shuffled passes over MIX, each op with
    its seeded parameters. Depends on the seed alone."""
    rng = np.random.default_rng(seed + 1)
    while True:
        for idx in rng.permutation(len(MIX)):
            name, family = MIX[idx]
            yield name, family, draw_params(name, rng, *corpus)


class Workload:
    def __init__(self, run: Run, work, scale: float):
        self.run = run
        self.work = work
        self.scale = scale

    # -- inputs --------------------------------------------------------
    def generate(self) -> None:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        self.sf_dir = self.work.sub("sf")
        self.rows = gen.star_schema(self.run.seed, self.sf_dir, scale=self.scale)
        docs = pq.read_table(f"{self.sf_dir}/documents.parquet").to_pydict()
        self.docs = dict(zip(docs["doc_id"], docs["text"]))
        self.corpus = TextCorpus(self.docs)
        self.doc_ids = sorted(self.docs)
        self.run.detail["gen_s"] = round(time.perf_counter() - t0, 3)
        self.run.detail["rows"] = self.rows

    def oracle_hashes(self, oracle_sql: dict) -> dict[str, str]:
        """DuckDB runs each registry query's SQL twin over the same
        generated parquet (outside the timed region)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            out = {}
            for name, _ in MIX:
                if name in SEARCH_OPS:
                    continue
                cur = con.execute(oracle_sql[name])
                cols = [d[0] for d in cur.description]
                out[name] = canonical_hash(cols, cur.fetchall())
            return out
        finally:
            con.close()

    # -- build -----------------------------------------------------------
    def build_indexes(self, spark) -> None:
        from finance_etl_system_spark.operators import textindex

        self.text_path = self.work.sub("index", "text")
        with self.run.tracer.span("textindex.build"):
            textindex.build_text_index(
                spark.read.parquet(f"{self.sf_dir}/documents.parquet"),
                self.text_path, positions=True,
            )

    # -- ops -----------------------------------------------------------
    def execute(self, spark, qs, name: str, params: dict):
        """Run one op; returns (rows, frame) — frame for plan metrics."""
        from finance_etl_system_spark.operators import textindex

        tr = self.run.tracer
        if name == "bm25_search_index":
            with tr.span("textindex.bm25"):
                df = textindex.bm25_search_index(spark, self.text_path, params["terms"], k=TOP_K)
                return df.collect(), None
        if name == "phrase_search_index":
            with tr.span("textindex.phrase"):
                df = textindex.phrase_search_index(spark, self.text_path, params["terms"], k=TOP_K)
                return df.collect(), None
        with tr.span("queries.build"):
            df = qs[name](spark, self.sf_dir)
        with tr.span("queries.collect"):
            rows = df.collect()
        return rows, df

    def check(self, name: str, params: dict, rows, df, want_hash: dict) -> str | None:
        """None when the op's output is right, else why not."""
        if name in want_hash:
            got = canonical_hash(df.columns, [tuple(r) for r in rows])
            return None if got == want_hash[name] else "value hash differs from DuckDB twin"
        if name == "bm25_search_index":
            got = [(r["doc_id"], r["bm25"]) for r in sorted(rows, key=lambda r: r["rnk"])]
            want = self.corpus.bm25(params["terms"], TOP_K)
            return None if ranking_matches(got, want, 2e-6) else f"bm25 {params['terms']} top-k differs"
        if name == "phrase_search_index":
            got = [(r["doc_id"], r["n_occurrences"]) for r in sorted(rows, key=lambda r: r["rnk"])]
            want = self.corpus.phrase(params["terms"], TOP_K)
            return None if got == want else f"phrase {params['terms']} top-k differs"
        return "no reference for op"


def run_workload(run: Run, work, *, scale: float) -> dict:
    from finance_etl_system_spark.plans.metrics import executed_metrics
    from finance_etl_system_spark.queries import all_oracle_sql, all_queries

    tr = run.tracer
    spark = start_spark(run)
    run.detail["canary_start_s"] = round(cpu_canary_s(spark), 4)
    w = Workload(run, work, scale)
    w.generate()
    qs = all_queries()
    want_hash = w.oracle_hashes(all_oracle_sql())
    corpus = (w.doc_ids, w.corpus.tokens)
    counters = SparkCounters(spark) if tr.enabled else None

    t0 = time.perf_counter()
    tr.op_id = -1  # build spans
    w.build_indexes(spark)
    t_idx = time.perf_counter()
    cold_rng = np.random.default_rng(run.seed + 3)
    cold_mismatches = []
    for name, _ in MIX:  # first, cold execution of every mix op
        params = draw_params(name, cold_rng, *corpus)
        rows, df = w.execute(spark, qs, name, params)
        why = w.check(name, params, rows, df, want_hash)
        if why:  # not an attempted op: its timed instances carry the failure
            cold_mismatches.append(f"{name}: {why}")
    run.detail["cold_mismatches"] = cold_mismatches
    t_end = time.perf_counter()
    run.metric("build_s", t_end - t0, "s")
    run.detail["build_parts_s"] = {
        "indexes": round(t_idx - t0, 3), "cold_mix": round(t_end - t_idx, 3),
    }

    ops = schedule(run.seed, *corpus)
    results = []
    per_layer: dict[str, list[float]] = {}
    fam_lat: dict[str, list[float]] = {f: [] for f in FAMILIES}
    loop0 = time.perf_counter()
    n = 0
    while run.more(n, min_ops=MIN_OPS, round_ops=len(MIX), loop0=loop0):
        name, family, params = next(ops)
        tr.op_id = n
        group = f"op{n}"
        if counters:
            spark.sparkContext.setJobGroup(group, name)
            gc0 = counters.gc_ms()
        run.attempted += 1
        t = time.perf_counter()
        try:
            rows, df = w.execute(spark, qs, name, params)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            run.fail(n, f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            n += 1
            continue
        lat = time.perf_counter() - t
        run.latencies.append(lat)
        run.op_kinds.append(name)
        fam_lat[family].append(lat)
        results.append((n, name, params, rows, df))
        if counters:
            spark.sparkContext._jsc.clearJobGroup()
            jobs, tasks = counters.jobs_and_tasks([group])
            per_layer.setdefault("jobs", []).append(jobs)
            per_layer.setdefault("tasks", []).append(tasks)
            per_layer.setdefault("gc", []).append((counters.gc_ms() - gc0) / 1000.0)
            if df is not None:
                m = executed_metrics(df)
                per_layer.setdefault("scan_rows", []).append(m["scan_rows"])
                per_layer.setdefault("shuffle", []).append(m["shuffle_write_bytes"])
                per_layer.setdefault("broadcast", []).append(m["broadcast_bytes"])
            if name in SEARCH_OPS:
                per_layer.setdefault("text_files", []).append(count_files(w.text_path))
        n += 1
    run.loop_s = time.perf_counter() - loop0
    tr.op_id = None

    for op, name, params, rows, df in results:
        why = w.check(name, params, rows, df, want_hash)
        if why:
            run.fail(op, f"{name}: {why}")
    run.detail["canary_end_s"] = round(cpu_canary_s(spark), 4)

    def mean(key):
        v = per_layer.get(key, [])
        return sum(v) / len(v) if v else 0.0

    layer = {
        "queries.build_s": (median(tr.durations("queries.build")), "s"),
        "queries.collect_s": (median(tr.durations("queries.collect")), "s"),
        "plans.scan_rows_per_query": (mean("scan_rows"), "rows"),
        "plans.shuffle_write_bytes_per_query": (mean("shuffle"), "bytes"),
        "plans.broadcast_bytes_per_query": (mean("broadcast"), "bytes"),
        "textindex.bm25_s": (median(tr.durations("textindex.bm25")), "s"),
        "textindex.phrase_s": (median(tr.durations("textindex.phrase")), "s"),
        "textindex.files": (mean("text_files"), "count"),
        "textindex.build_s": (median(tr.durations("textindex.build", timed_only=False)), "s"),
        "spark.jobs_per_op": (mean("jobs"), "count"),
        "spark.tasks_per_op": (mean("tasks"), "count"),
        "jvm.gc_s_per_op": (mean("gc"), "s"),
    }
    for f in FAMILIES:
        layer[f"queries.{f}.p50_s"] = (median(fam_lat[f]), "s")
    return {"spark": spark, "per_layer": layer}


def count_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )
