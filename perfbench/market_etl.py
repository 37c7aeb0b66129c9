"""market_etl: the paper's own write path, one trading day per op.

Build (``build_s``): ``incremental_etl`` backfills a history longer
than ``LOOKBACK_ROWS`` and ``train_ols_per_group`` fits one model per
symbol, saved to the model registry.

Op: land that day's Kafka frames, then ``stream_ingest`` (availableNow),
``incremental_etl`` over the ingested table, ``score_ols`` and append
the scores. The op latency is freshness: frames landed -> scores
written. One warm-up cycle runs untimed before the loop.

After the loop, untimed: one replay cycle must write nothing, and the
scheduled bad-timestamp op lands one unparseable crawl timestamp in a
landing/checkpoint directory of its own (the known ANSI
``to_timestamp`` defect in ``parse_kafka_records``; it counts as a
failed op while the defect stands and never touches the main chain).
"""

from __future__ import annotations

import datetime as dt
import time

import numpy as np

from . import gen
from .harness import (
    Run,
    SparkCounters,
    cpu_canary_s,
    dir_snapshot,
    median,
    start_spark,
    written_since,
)

N_SYMBOLS = 3
HISTORY_DAYS = 210  # > LOOKBACK_ROWS, so cycles take the lookback path
MAX_CYCLES = 60
MIN_OPS = 1  # timed cycles per run, whatever --seconds says
FEATURES = ["sma_5", "sma_20", "rsi", "macd"]
TARGET = "close"
INGEST_SCHEMA = (
    "kafka_key string, ticker string, open double, high double, low double, "
    "close double, volume bigint, timestamp string, event_time timestamp, "
    "consumed_at timestamp, symbol string, date string"
)
RAW_COLUMNS = ["ticker", "date", "open", "high", "low", "close", "volume",
               "timestamp", "consumed_at"]
CONSUMED_AT = dt.datetime(2024, 1, 1)


class Chain:
    """Directories and client calls of the main ingest -> ETL -> score
    chain."""

    def __init__(self, run: Run, work, spark):
        self.run = run
        self.spark = spark
        self.land = work.sub("landing")
        self.ingest = work.sub("ingest")
        self.ckpt = work.sub("checkpoints", "ingest")
        self.state = work.sub("etl_state")
        self.processed = work.sub("processed")
        self.registry = work.sub("models")
        self.scores = work.sub("scores")
        self.last_ingest_rows = 0

    def backfill_and_train(self, history: list[dict]) -> None:
        from finance_etl_system_spark.pipeline import etl, ml

        tr = self.run.tracer
        raw = self.spark.createDataFrame(
            [{**r, "consumed_at": CONSUMED_AT} for r in history], etl.RAW_SCHEMA
        )
        with tr.span("etl.backfill"):
            etl.incremental_etl(self.spark, raw, self.state, self.processed)
        with tr.span("ml.train"):
            models = ml.train_ols_per_group(
                self.spark.read.parquet(self.processed),
                group_col="symbol", feature_cols=FEATURES, target_col=TARGET,
            )
            ml.save_model_registry(models, self.registry)
        self.models = self.spark.read.parquet(self.registry)

    def cycle(self, day_index: int, records: list[dict], etl_written: list | None):
        """One op; returns its freshness latency in seconds."""
        from finance_etl_system_spark.pipeline import etl, ml
        from finance_etl_system_spark.streaming.ingest import stream_ingest

        tr = self.run.tracer
        if records:
            gen.land_frames(records, self.land, f"day-{day_index:05d}.json")
        t0 = time.perf_counter()
        with tr.span("ingest.stream_ingest"):
            q = stream_ingest(self.spark, self.land, self.ingest, self.ckpt)
            q.awaitTermination()
        self.last_ingest_rows = sum(p["numInputRows"] for p in q.recentProgress)
        self.last_stream_group = str(q.runId)
        before = dir_snapshot(self.processed, self.state) if etl_written is not None else None
        with tr.span("etl.incremental_etl"):
            raw = (
                self.spark.read.schema(INGEST_SCHEMA).parquet(self.ingest)
                .select(*RAW_COLUMNS)
            )
            new = etl.incremental_etl(self.spark, raw, self.state, self.processed)
        if before is not None:
            etl_written.append(written_since(before, dir_snapshot(self.processed, self.state)))
        with tr.span("ml.score"):
            (
                ml.score_ols(new, self.models, group_col="symbol", feature_cols=FEATURES)
                .select("symbol", "trading_date", "prediction")
                .write.mode("append").parquet(self.scores)
            )
        return time.perf_counter() - t0


def bad_timestamp_op(run: Run, spark, work, day: dt.date) -> None:
    """The scheduled known-defect op, in directories of its own."""
    from finance_etl_system_spark.streaming.ingest import stream_ingest

    run.attempted += 1
    land = work.sub("defect", "landing")
    gen.land_frames([gen.bad_timestamp_record(day)], land, "bad.json")
    try:
        q = stream_ingest(spark, land, work.sub("defect", "out"), work.sub("defect", "ckpt"))
        q.awaitTermination()
    except Exception as exc:  # noqa: BLE001 - the defect surfaces as a stream failure
        kind = "CAST_INVALID_INPUT" if "CAST_INVALID_INPUT" in str(exc) else type(exc).__name__
        run.fail("defect", f"known defect: bad crawl timestamp fails the ingest batch ({kind})")
        run.detail["known_defect"] = {"bad_timestamp_ingest": f"fails ({kind})"}
        return
    run.detail["known_defect"] = {"bad_timestamp_ingest": "passes (defect fixed?)"}


def check_outputs(run: Run, spark, chain: Chain, landed: list[list[dict]],
                  cycle_days: dict[str, object]) -> None:
    """Final processed table == one-shot recompute over everything that
    landed; every score == the saved model applied to its row.

    ``cycle_days`` maps each cycle's trading day to the op that landed
    it. A wrong day is charged to that timed op, once; a wrong backfill
    or warm-up day is not an attempted op and makes the run incorrect."""
    from finance_etl_system_spark.pipeline import etl

    def charge(day: str, why: str) -> None:
        op = cycle_days.get(day)
        if op is None or op == "warm-up":
            run.incorrect(f"{op or 'backfilled'} day {day}: {why}")
        else:
            run.fail(op, f"cycle day {day}: {why}")

    raw = spark.createDataFrame(
        [{**r, "consumed_at": CONSUMED_AT} for day in landed for r in day],
        etl.RAW_SCHEMA,
    )
    want = etl.compute_processed(etl.clean_and_prepare(raw)).toPandas()
    got = spark.read.parquet(chain.processed).toPandas()
    key = ["symbol", "trading_date"]
    cols = [c for c in want.columns if c not in ("consumed_at", "event_time")]
    want = want[cols].sort_values(key).reset_index(drop=True)
    got = got[cols].sort_values(key).reset_index(drop=True)
    bad_days: set[str] = set()
    if len(want) != len(got) or not (want[key] == got[key]).all().all():
        keys = lambda df: set(map(tuple, df[key].astype(str).values))  # noqa: E731
        bad_days = {d for _, d in keys(want) ^ keys(got)}
    else:
        for c in cols:
            if want[c].dtype.kind == "f":
                ok = np.isclose(want[c].astype(float), got[c].astype(float),
                                rtol=1e-9, atol=1e-9, equal_nan=True)
            else:
                ok = (want[c].astype(str) == got[c].astype(str)).values
            bad_days |= {str(d) for d in want["trading_date"][~ok]}
    for d in sorted(bad_days):
        charge(d, "processed rows differ from full recompute")

    models = {r["group_key"]: r for r in chain.models.collect()}
    scores = spark.read.parquet(chain.scores).toPandas().merge(got, on=key, how="left")
    coef = np.array([models[s]["coefficients"] for s in scores["symbol"]], dtype=float)
    icpt = np.array([models[s]["intercept"] for s in scores["symbol"]], dtype=float)
    feats = scores[FEATURES].astype(float).values
    want_p = icpt + (coef * feats).sum(axis=1)
    ok = np.isclose(scores["prediction"].astype(float), want_p,
                    rtol=1e-9, atol=1e-9, equal_nan=True)
    scored_days = {str(d) for d in scores["trading_date"]}
    for d in sorted({str(d) for d in scores["trading_date"][~ok]}):
        charge(d, "wrong predictions")
    for d in sorted(set(cycle_days) - scored_days):
        charge(d, "no scores written")
    for d in sorted(scored_days - set(cycle_days)):
        run.incorrect(f"day {d}: scored but landed by no cycle")


def run_workload(run: Run, work, *, scale: float) -> dict:
    tr = run.tracer
    spark = start_spark(run)
    run.detail["canary_start_s"] = round(cpu_canary_s(spark), 4)
    n_symbols = N_SYMBOLS if scale >= 1 else 2
    t0 = time.perf_counter()
    feed = gen.market_feed(run.seed, n_symbols, HISTORY_DAYS + MAX_CYCLES)
    days = gen.business_days(dt.date(2021, 1, 4), HISTORY_DAYS + MAX_CYCLES)
    run.detail["gen_s"] = round(time.perf_counter() - t0, 3)
    chain = Chain(run, work, spark)
    counters = SparkCounters(spark) if tr.enabled else None

    tr.op_id = -1
    t0 = time.perf_counter()
    chain.backfill_and_train([r for day in feed[:HISTORY_DAYS] for r in day])
    run.metric("build_s", time.perf_counter() - t0, "s")

    landed = feed[:HISTORY_DAYS]
    cycle_days: dict[str, object] = {}  # trading day -> op that landed it
    nxt = HISTORY_DAYS

    def land_next(i: int, op) -> list[dict]:
        landed.append(feed[i])
        cycle_days[days[i].isoformat()] = op
        return feed[i]

    run.phase("start_to_build_end")
    chain.cycle(nxt, land_next(nxt, "warm-up"), None)  # untimed warm-up
    nxt += 1
    run.phase("warm_up")

    layer: dict[str, list[float]] = {}
    etl_written: list = []
    loop0 = time.perf_counter()
    n = 0
    while nxt < HISTORY_DAYS + MAX_CYCLES and run.more(n, min_ops=MIN_OPS, round_ops=1, loop0=loop0):
        tr.op_id = n
        group = f"op{n}"
        if counters:
            spark.sparkContext.setJobGroup(group, "market cycle")
            gc0 = counters.gc_ms()
        run.attempted += 1
        try:
            lat = chain.cycle(nxt, land_next(nxt, n), etl_written if counters else None)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            run.fail(n, f"cycle {nxt}: {type(exc).__name__}: {str(exc)[:200]}")
            nxt += 1
            n += 1
            continue
        run.latencies.append(lat)
        run.op_kinds.append("cycle")
        if counters:
            spark.sparkContext._jsc.clearJobGroup()
            jobs, tasks = counters.jobs_and_tasks([group, chain.last_stream_group])
            layer.setdefault("jobs", []).append(jobs)
            layer.setdefault("tasks", []).append(tasks)
            layer.setdefault("gc", []).append((counters.gc_ms() - gc0) / 1000.0)
            layer.setdefault("rows", []).append(chain.last_ingest_rows)
        nxt += 1
        n += 1
    run.loop_s = time.perf_counter() - loop0
    tr.op_id = None
    run.phase("timed_loop")

    # replay: the same landing dir and checkpoint, nothing new landed
    run.attempted += 1
    outputs = (chain.ingest, chain.processed, chain.state)
    before = dir_snapshot(*outputs)
    n_scores = spark.read.parquet(chain.scores).count()
    chain.cycle(nxt, [], None)
    wrote = written_since(before, dir_snapshot(*outputs))
    run.detail["replay_written"] = {"files": wrote[0], "bytes": wrote[1]}
    if wrote[0] or spark.read.parquet(chain.scores).count() != n_scores:
        run.fail("replay", f"replay cycle wrote {wrote[0]} files")

    run.phase("replay")
    bad_timestamp_op(run, spark, work, days[nxt])
    run.phase("known_defect_op")
    check_outputs(run, spark, chain, landed, cycle_days)
    run.phase("checks")
    run.detail["canary_end_s"] = round(cpu_canary_s(spark), 4)

    def mean(key):
        v = layer.get(key, [])
        return sum(v) / len(v) if v else 0.0

    files = [f for f, _ in etl_written]
    nbytes = [b for _, b in etl_written]
    rows = layer.get("rows", [])
    per_row = [b / r for b, r in zip(nbytes, rows) if r]
    return {
        "spark": spark,
        "per_layer": {
            "ingest.stream_ingest_s": (median(tr.durations("ingest.stream_ingest")), "s"),
            "ingest.rows_per_cycle": (mean("rows"), "rows"),
            "etl.incremental_etl_s": (median(tr.durations("etl.incremental_etl")), "s"),
            "etl.bytes_written_per_new_row": (sum(per_row) / len(per_row) if per_row else 0.0, "bytes"),
            "etl.files_written_per_cycle": (sum(files) / len(files) if files else 0.0, "count"),
            "ml.score_s": (median(tr.durations("ml.score")), "s"),
            "etl.backfill_s": (median(tr.durations("etl.backfill", timed_only=False)), "s"),
            "ml.train_s": (median(tr.durations("ml.train", timed_only=False)), "s"),
            "spark.jobs_per_op": (mean("jobs"), "count"),
            "spark.tasks_per_op": (mean("tasks"), "count"),
            "jvm.gc_s_per_op": (mean("gc"), "s"),
        },
    }
