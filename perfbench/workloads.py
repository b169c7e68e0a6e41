"""The benchmark workloads and the metrics they report.

``batch_algos`` is a closed loop over registered queries, the paper's
algorithms and the text-curation functions: one call is
``QUERIES[name](spark, data_dir)`` built and written to the ``noop`` sink.
``stream_replay`` replays a time-sorted event log one parquet file at a time
through two streaming queries; one call is one file processed by the first
query and then by the second.

Every workload reports the end-to-end metrics from its untraced run and the
per-layer metrics (``PER_LAYER``) from its traced run. Metrics of a layer a
workload does not exercise read 0.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

from perfbench import gen, oracle
from perfbench.harness import JvmBeans, RssSampler, Tracer, median, tail

NOOP = "noop"

# ---------------------------------------------------------------------------
# workload definitions
# ---------------------------------------------------------------------------

# the paper's algorithms, two feature operators and one text-curation
# function; the other registered queries of both families are left to the
# traced probes, so a run holds several passes within its time budget
BATCH_QUERIES = {               # query -> input table (its throughput unit)
    "ahp_score_lineitem": "lineitem",
    "topsis_score_part": "part",
    "online_ahp_events": "events",
    "apriori_rules_events": "events",
    "kmeans_embeddings_clusters": "embeddings",
    "mean_imputer_orders": "orders",
    "quality_documents": "documents",
}
BATCH_SIZES = {"lineitem": 60_000, "orders": 15_000, "events": 10_000,
               "part": 2_000, "embeddings": 2_000, "documents": 2_500}
WARM_PASSES = 2
MIN_PASSES = 3
# a traced run traces passes (or stream calls) in the order T U U T T U U T
# ..., so the warm-up trend of a run cancels out of the traced-untraced gap,
# and needs this many of each kind to state the tracing overhead
MIN_TRACE_PAIRS = 2


def _traced_slot(i: int) -> bool:
    return i % 4 in (0, 3)

STREAM_EVENTS = 100_000
STREAM_FILE_ROWS = 2_000
STREAM_WARMUP_FILES = 2
STREAM_MIN_CALLS = 4
STREAM_QUERIES = ("online_ahp", "online_topsis_apply")

# operators probed through their public fit/transform in the traced run
OPERATORS = {             # name -> has a fit step
    "AHP": False, "Topsis": False, "OnlineAHP": False, "OnlineTopsis": True,
    "Apriori": False, "KMeans": True, "MeanImputer": True,
}
FUNCTIONS = ("ExactDeduplicator", "MinHashDeduplicator", "QualityScorer",
             "LanguageIdentifier", "TokenCounter")
STREAM_DURATIONS = (("add_batch", "addBatch"),
                    ("query_planning", "queryPlanning"),
                    ("latest_offset", "latestOffset"),
                    ("get_batch", "getBatch"),
                    ("wal_commit", "walCommit"),
                    ("commit_offsets", "commitOffsets"))


def _per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.warmup_s": "s",
             "base.model_save_s": "s", "base.model_load_s": "s",
             "sources.scan_s": "s", "sources.scan_rows": "count",
             "plans.build_s": "s", "plans.execute_s": "s",
             "plans.jobs": "count", "plans.stages": "count",
             "plans.tasks": "count"}
    for q in BATCH_QUERIES:
        units[f"plans.build_s.{q}"] = "s"
        units[f"plans.execute_s.{q}"] = "s"
        for stat in ("jobs", "stages", "tasks"):
            units[f"plans.{stat}.{q}"] = "count"
    for op, has_fit in OPERATORS.items():
        if has_fit:
            units[f"operators.{op}.fit_s"] = "s"
        units[f"operators.{op}.transform_s"] = "s"
        units[f"operators.{op}.jobs"] = "count"
    for fn in FUNCTIONS:
        units[f"functions.{fn}.transform_s"] = "s"
        units[f"functions.{fn}.jobs"] = "count"
    for q in STREAM_QUERIES:
        for name, _ in STREAM_DURATIONS:
            units[f"streaming.{q}.{name}_ms_p50"] = "ms"
        units[f"streaming.{q}.triggers"] = "count"
        units[f"streaming.{q}.input_rows"] = "count"
    units["streaming.online_ahp.state_rows"] = "count"
    units["streaming.online_ahp.state_mem_bytes"] = "bytes"
    units["streaming.online_ahp.state_commit_ms_p50"] = "ms"
    units["jvm.gc_s"] = "s"
    units["jvm.heap_peak_mb"] = "MB"
    units["trace.overhead_pct"] = "%"
    return units


PER_LAYER = _per_layer_units()
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s",
              "latency_p50_s": "s", "latency_tail_s": "s",
              "peak_rss_mb": "MB"}


class Run:
    """Everything one benchmark run measures and reports."""

    def __init__(self, name: str, trace: bool):
        self.name = name
        self.tracer = Tracer(trace)
        self.setup_s = 0.0
        self.session_s = 0.0
        self.timed_s = 0.0
        self.units = 0
        self.latencies: list[float] = []
        self.by_query: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed: Counter = Counter()        # query -> failed calls
        self.errors: dict[str, str] = {}        # query -> first reason
        self.peak_rss_mb = 0.0
        self.layer: dict[str, float] = {}
        self.info: dict = {}

    def record(self, query: str, latency: float) -> None:
        self.latencies.append(latency)
        self.by_query[query].append(latency)

    def fail(self, query: str, reason: str, calls: int = 1) -> None:
        self.failed[query] += calls
        self.errors.setdefault(query, reason)

    def end_to_end(self) -> dict[str, float]:
        value, pct, n, beyond = (tail(self.latencies) if self.latencies
                                 else (0.0, 0, 0, 0))
        query_p50 = {q: median(v) for q, v in self.by_query.items()}
        self.info.update(tail_percentile=pct, latency_samples=n,
                         samples_beyond_tail=beyond,
                         latency_s=self.latencies, query_p50_s=query_p50)
        # every query is called equally often; the median of the queries'
        # medians is their typical call, and unlike a pooled median it
        # cannot fall on the gap between two queries' latency groups
        return {
            "setup_s": self.setup_s,
            "throughput_per_s": self.units / self.timed_s if self.timed_s else 0.0,
            "latency_p50_s": median(list(query_p50.values())),
            "latency_tail_s": value,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        out = {k: 0.0 for k in PER_LAYER}
        out.update(self.layer)
        return out


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def _start_session(run: Run, extra_conf: dict):
    from flink_ml__spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{run.name}", extra_conf=extra_conf)
    run.session_s = time.perf_counter() - t0
    run.tracer.attach(spark.sparkContext)
    return spark


def _record_jvm(run: Run, beans: JvmBeans, gc0: float) -> None:
    run.layer["jvm.gc_s"] = beans.gc_seconds() - gc0
    run.layer["jvm.heap_peak_mb"] = beans.heap_peak_mb()


def _span_total(tracer: Tracer, name: str) -> float:
    return sum(tracer.durations(name))


def _span_median(tracer: Tracer, name: str) -> float:
    return median(tracer.durations(name))


# ---------------------------------------------------------------------------
# batch_algos
# ---------------------------------------------------------------------------

def _batch_pass(run: Run, spark, queries, data, record) -> None:
    """Build and run every query once to the noop sink; ``record(q, lat)``
    gets each completed call's latency, or ``(q, None)`` when it raised."""
    from flink_ml__spark.plans import QUERIES

    for q in queries:
        c0 = time.perf_counter()
        try:
            with run.tracer.span(f"plans.build.{q}"):
                df = QUERIES[q](spark, data)
            with run.tracer.span(f"plans.execute.{q}"):
                _noop(df)
        except Exception as exc:  # noqa: BLE001 - counted, not hidden
            run.errors.setdefault(q, f"{type(exc).__name__}: {exc}"[:300])
            record(q, None)
            continue
        record(q, time.perf_counter() - c0)


def run_batch(run: Run, queries: dict[str, str], sizes: dict[str, int],
              work: str, seed: int, seconds: float, extra_conf: dict,
              tamper=None):
    """Closed loop over ``queries``; returns the session.
    ``tamper(name, pdf) -> pdf`` may alter a collected output before the
    correctness gate sees it."""
    from flink_ml__spark.plans import QUERIES

    data = os.path.join(work, "data")
    rows = gen.write_tables(data, seed, sizes)
    con = oracle.connect({t: os.path.join(data, f"{t}.parquet")
                          for t in sizes})
    want = {q: oracle.expected(con, q) for q in queries}
    con.close()

    # -- setup: session start, a first pass that is also the correctness
    # gate (its comparison work is not set-up time), then warm passes
    # until the JIT-compiled code paths have settled
    spark = _start_session(run, extra_conf)
    warm_s, verdict = 0.0, {}
    for q in queries:
        c0 = time.perf_counter()
        try:
            pdf = QUERIES[q](spark, data).toPandas()
        except Exception as exc:  # noqa: BLE001 - counted, not hidden
            verdict[q] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        finally:
            warm_s += time.perf_counter() - c0
        if tamper is not None:
            pdf = tamper(q, pdf)
        verdict[q] = oracle.compare(pdf, want[q])
    run.info["gate"] = {q: v or "ok" for q, v in verdict.items()}
    traced, run.tracer.enabled = run.tracer.enabled, False
    w0 = time.perf_counter()
    for _ in range(WARM_PASSES):
        _batch_pass(run, spark, queries, data, lambda q, lat: None)
    run.tracer.enabled = traced
    warm_s += time.perf_counter() - w0
    run.setup_s = run.session_s + warm_s
    run.layer["session.warmup_s"] = warm_s

    # -- timed phase: whole passes until ``seconds`` have elapsed, and at
    # least MIN_PASSES, so every run holds the same mix of calls and the
    # tail call falls among the slowest query's samples, not on one maximum.
    # A traced run traces every other pass (``_traced_slot``); the untraced
    # passes give the tracing overhead.
    beans = JvmBeans(spark)
    beans.reset_peaks()
    gc0 = beans.gc_seconds()
    min_passes = max(MIN_PASSES, 2 * MIN_TRACE_PAIRS) if traced else MIN_PASSES
    passes, pass_traced = [], []

    def record(q, lat):
        run.attempted += 1
        if lat is None:
            run.fail(q, run.errors[q])
            return
        run.record(q, lat)
        if verdict.get(q) is None:
            run.units += rows[queries[q]]

    with RssSampler() as rss:
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < seconds
               or len(passes) < min_passes):
            run.tracer.enabled = traced and _traced_slot(len(passes))
            pass_traced.append(run.tracer.enabled)
            p0 = time.perf_counter()
            _batch_pass(run, spark, queries, data, record)
            passes.append(time.perf_counter() - p0)
        run.timed_s = time.perf_counter() - t_start
    run.tracer.enabled = traced
    run.peak_rss_mb = rss.peak / 2 ** 20
    # a call whose query failed the gate produced a wrong answer
    for q, reason in verdict.items():
        if reason is not None:
            run.fail(q, reason, calls=len(run.by_query[q]))
    run.info["pass_s"] = passes

    if traced:
        _record_jvm(run, beans, gc0)
        _batch_layers(run, spark, queries, data, rows)
        run.layer["trace.overhead_pct"] = _overhead_pct(passes, pass_traced)
    return spark


def _overhead_pct(times: list[float], traced: list[bool]) -> float:
    """Tracing overhead as measured: the median traced pass (or call)
    against the median untraced one of the same run, in percent."""
    on = median([t for t, x in zip(times, traced) if x])
    off = median([t for t, x in zip(times, traced) if not x])
    return 100.0 * (on / off - 1.0) if off else 0.0


def _batch_layers(run: Run, spark, queries, data, rows) -> None:
    tr = run.tracer
    L = run.layer
    L["session.start_s"] = run.session_s
    for q in queries:
        L[f"plans.build_s.{q}"] = _span_median(tr, f"plans.build.{q}")
        L[f"plans.execute_s.{q}"] = _span_median(tr, f"plans.execute.{q}")
        for stat in ("jobs", "stages", "tasks"):
            L[f"plans.{stat}.{q}"] = median(
                [a + b for a, b in zip(tr.counts(f"plans.build.{q}", stat),
                                       tr.counts(f"plans.execute.{q}", stat))])
    for stat in ("build_s", "execute_s", "jobs", "stages", "tasks"):
        L[f"plans.{stat}"] = sum(L[f"plans.{stat}.{q}"] for q in queries)
    _probe_sources(run, spark, data, rows)
    _probe_operators(run, spark, data)
    _probe_functions(run, spark, data)


def _probe_sources(run: Run, spark, data: str, rows: dict) -> None:
    from flink_ml__spark.sources import load_table

    for t in sorted(rows):
        with run.tracer.span(f"sources.scan.{t}"):
            _noop(load_table(spark, t, data))
    run.layer["sources.scan_s"] = sum(
        _span_total(run.tracer, f"sources.scan.{t}") for t in rows)
    run.layer["sources.scan_rows"] = sum(rows.values())


def _timed_op(run: Run, key: str, fn) -> int:
    """Run ``fn`` under a span, record its time as ``<key>_s`` and return
    the number of Spark jobs it ran."""
    with run.tracer.span(key) as rec:
        fn()
    run.layer[f"{key}_s"] = rec["end"] - rec["start"]
    return rec["jobs"]


def _probe_operators(run: Run, spark, data: str) -> None:
    from pyspark.sql import functions as F

    from flink_ml__spark.functions.feature_gen import MeanImputer
    from flink_ml__spark.operators.ahp import AHP, OnlineAHP
    from flink_ml__spark.operators.apriori import Apriori
    from flink_ml__spark.operators.kmeans import KMeans
    from flink_ml__spark.operators.topsis import Topsis
    from flink_ml__spark.plans import queries as Q
    from flink_ml__spark.sources import load_table

    li = load_table(spark, "lineitem", data)
    part = load_table(spark, "part", data).withColumn(
        "features", F.array("p_retailprice", F.col("p_size").cast("double")))
    ev = load_table(spark, "events", data)
    emb = load_table(spark, "embeddings", data)
    orders = load_table(spark, "orders", data)
    baskets = (ev.groupBy("user_id").agg(F.array_join(F.array_sort(
        F.collect_set("event_type")), "/").alias("items")))
    transforms = {
        "AHP": (li, AHP().setInputCols(Q.AHP_COLS)
                .setJudgmentMatrix(Q.AHP_MATRIX)
                .setIndicatorType(Q.AHP_TYPES).setOutputCol("ahp_score")),
        "Topsis": (part, Topsis().setCriteriaTypes(Q.TOPSIS_TYPES)
                   .setWeights(Q.TOPSIS_WEIGHTS)
                   .setPredictionCol("topsis_score")),
        "OnlineAHP": (ev.withColumn("props_len",
                                    F.length("props").cast("double")),
                      OnlineAHP().setInputCols(["value", "props_len"])
                      .setJudgmentMatrix(Q.OAHP_MATRIX)
                      .setIndicatorType([1, 0]).setWindows("1 day")
                      .setTimeCol("ts").setOutputCol("win_score")),
        "Apriori": (baskets, Apriori().setInputCols("items")
                    .setItemSeparator("/").setMinSupport(0.2)
                    .setMinConfidence(0.3).setLift(1.0)),
    }
    estimators = {
        "OnlineTopsis": (_event_features(ev), _online_topsis()),
        "KMeans": (emb, KMeans().setK(4).setSeed(42).setMaxIter(10)
                   .setFeaturesCol("embedding")),
        "MeanImputer": (orders, MeanImputer().setInputCol("o_totalprice")),
    }
    for op, (df, stage) in transforms.items():
        jobs = _timed_op(run, f"operators.{op}.transform",
                         lambda: _noop(stage.transform(df)))
        run.layer[f"operators.{op}.jobs"] = jobs
    for op, (df, est) in estimators.items():
        model = []
        jobs = _timed_op(run, f"operators.{op}.fit",
                         lambda: model.append(est.fit(df)))
        jobs += _timed_op(run, f"operators.{op}.transform",
                          lambda: _noop(model[0].transform(df)))
        run.layer[f"operators.{op}.jobs"] = jobs


def _probe_functions(run: Run, spark, data: str) -> None:
    from flink_ml__spark.functions.dedup import (ExactDeduplicator,
                                                 MinHashDeduplicator)
    from flink_ml__spark.functions.text import (LanguageIdentifier,
                                                QualityScorer, TokenCounter)
    from flink_ml__spark.sources import load_table

    docs = load_table(spark, "documents", data)
    ops = {
        "ExactDeduplicator": ExactDeduplicator(),
        "MinHashDeduplicator": MinHashDeduplicator().setSeed(42)
        .setThreshold(0.7),
        "QualityScorer": QualityScorer(),
        "LanguageIdentifier": LanguageIdentifier(),
        "TokenCounter": TokenCounter(),
    }
    for fn, op in ops.items():
        jobs = _timed_op(run, f"functions.{fn}.transform",
                         lambda: _noop(op.transform(docs)))
        run.layer[f"functions.{fn}.jobs"] = jobs


# ---------------------------------------------------------------------------
# stream_replay
# ---------------------------------------------------------------------------

def _event_features(ev):
    """The OnlineTopsis input the registered queries use: id, event time
    and (value, props length) features."""
    from pyspark.sql import functions as F

    return ev.select("event_id", F.unix_millis("ts").alias("id"),
                     F.col("ts").alias("rowtime"),
                     F.array(F.col("value"), F.length("props")
                             .cast("double")).alias("features"))


def _online_topsis():
    from flink_ml__spark.operators.online_topsis import OnlineTopsis
    from flink_ml__spark.plans import queries as Q

    return (OnlineTopsis().setCriteriaTypes(Q.OT_TYPES)
            .setWeights(Q.OT_WEIGHTS).setWindows("1 day")
            .setTimeCol("rowtime"))


_EVENTS_DDL = ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
               "event_type STRING, value DOUBLE, props STRING")
_DAY_MS = 86_400_000


def _start_streams(spark, src: str, model, ckpt: str):
    """Start the stateful OnlineAHP query and the OnlineTopsis apply query,
    each on the parquet files arriving in its own directory under ``src``;
    both sink to memory tables named after ``STREAM_QUERIES``."""
    from pyspark.sql import functions as F

    from flink_ml__spark.operators.ahp import OnlineAHP
    from flink_ml__spark.plans import queries as Q
    from flink_ml__spark.sources import read_stream
    from flink_ml__spark.streaming import (stream_online_ahp,
                                           stream_online_topsis_apply)

    def events(name):
        path = os.path.join(src, name)
        os.makedirs(path)
        ev = read_stream(spark, "parquet", schema=_EVENTS_DDL, path=path,
                         maxFilesPerTrigger=1)
        # the same re-tag sources.load_table applies to the batch table
        return ev.withColumn("ts", F.col("ts").cast("timestamp"))

    op = (OnlineAHP().setInputCols(["value", "props_len"])
          .setJudgmentMatrix(Q.OAHP_MATRIX).setIndicatorType([1, 0])
          .setWindows("1 day").setTimeCol("ts").setOutputCol("win_score"))
    scored = stream_online_ahp(events("online_ahp").withColumn(
        "props_len", F.length("props").cast("double")), op)
    applied = stream_online_topsis_apply(
        _event_features(events("online_topsis_apply")), model)

    def sink(df, name):
        return (df.writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(ckpt, name))
                .start())

    return (sink(scored.select("event_id", "ts", "win_score"), "online_ahp"),
            sink(applied.select("event_id", "score"), "online_topsis_apply"))


def _replay(queries, path: str, src: str) -> None:
    """One file through the queries in turn: hand it to a query, wait
    until that query has processed it, then hand it to the next."""
    for name, q in zip(STREAM_QUERIES, queries):
        os.link(path, os.path.join(src, name, os.path.basename(path)))
        q.processAllAvailable()


def run_stream(run: Run, work: str, seed: int, seconds: float,
               extra_conf: dict, n_events: int = STREAM_EVENTS,
               tamper=None):
    """Replay the event log file by file through both streaming queries;
    returns the session. ``tamper(name, pdf) -> pdf`` may alter a sink's
    collected output before the correctness gate sees it."""
    from flink_ml__spark.operators.online_topsis import OnlineTopsisModel
    from flink_ml__spark.sources import load_table

    data = os.path.join(work, "data")
    gen.write_tables(data, seed, {"events": n_events})
    staged = gen.split_stream_files(os.path.join(data, "events.parquet"),
                                    os.path.join(work, "staged"),
                                    STREAM_FILE_ROWS)
    src = os.path.join(work, "src")

    # -- setup: session, fit + save + load the model, start both queries
    # and replay the first files through them
    spark = _start_session(run, extra_conf)
    t0 = time.perf_counter()
    with run.tracer.span("operators.OnlineTopsis.fit"):
        model = _online_topsis().fit(
            _event_features(load_table(spark, "events", data)))
    model_dir = os.path.join(work, "model")
    s0 = time.perf_counter()
    model.save(model_dir)
    run.layer["base.model_save_s"] = time.perf_counter() - s0
    s0 = time.perf_counter()
    model = OnlineTopsisModel.load(spark, model_dir).setPredictionCol("score")
    run.layer["base.model_load_s"] = time.perf_counter() - s0
    s0 = time.perf_counter()
    queries = _start_streams(spark, src, model, os.path.join(work, "ckpt"))
    for n in range(STREAM_WARMUP_FILES):
        _replay(queries, staged[n], src)
    run.layer["session.warmup_s"] = time.perf_counter() - s0
    run.setup_s = run.session_s + (time.perf_counter() - t0)
    warm_batches = [q.lastProgress["batchId"] for q in queries]

    # -- timed phase: one call = one file through both queries; a traced
    # run traces every other call (``_traced_slot``), the untraced ones
    # give its overhead
    beans = JvmBeans(spark)
    beans.reset_peaks()
    gc0 = beans.gc_seconds()
    traced = run.tracer.enabled
    min_calls = (max(STREAM_MIN_CALLS, 2 * MIN_TRACE_PAIRS) if traced
                 else STREAM_MIN_CALLS)
    call_traced = []
    n = STREAM_WARMUP_FILES
    with RssSampler() as rss:
        t_start = time.perf_counter()
        while n < len(staged) and (
                time.perf_counter() - t_start < seconds
                or len(run.latencies) < min_calls):
            run.attempted += 1
            run.tracer.enabled = traced and _traced_slot(len(run.latencies))
            c0 = time.perf_counter()
            try:
                with run.tracer.span("streaming.replay", count_jobs=False):
                    _replay(queries, staged[n], src)
            except Exception as exc:  # noqa: BLE001 - counted, not hidden
                run.fail("stream_replay", f"{type(exc).__name__}: {exc}"[:300])
                break
            n += 1
            run.record("stream_replay", time.perf_counter() - c0)
            call_traced.append(run.tracer.enabled)
            run.units += STREAM_FILE_ROWS
        run.timed_s = time.perf_counter() - t_start
    run.tracer.enabled = traced
    run.peak_rss_mb = rss.peak / 2 ** 20
    if traced:
        _record_jvm(run, beans, gc0)
        run.layer["trace.overhead_pct"] = _overhead_pct(run.latencies,
                                                        call_traced)
    progress = {name: [p for p in q.recentProgress if p["batchId"] > b0]
                for name, q, b0 in zip(STREAM_QUERIES, queries, warm_batches)}
    for q in queries:
        q.stop()

    # -- correctness gate on the sinks, outside the timed phase
    replayed = n * STREAM_FILE_ROWS
    if not _stream_gate(run, spark, data, staged[:n], replayed, tamper):
        run.units = 0
    run.info["files_replayed"] = n
    if run.tracer.enabled:
        _stream_layers(run, spark, data, progress, n_events)
    return spark


def _stream_gate(run: Run, spark, data: str, files: list[str],
                 n_events: int, tamper=None) -> bool:
    """Check both sinks against the batch oracles; on a mismatch in either
    every replay call of the run counts as failed, once."""
    calls = len(run.latencies)
    ahp = spark.sql("SELECT * FROM online_ahp").toPandas()
    top = spark.sql("SELECT * FROM online_topsis_apply").toPandas()
    if tamper is not None:
        ahp = tamper("online_ahp", ahp)
        top = tamper("online_topsis_apply", top)
    con = oracle.connect({"events": files})
    # windows fire once the watermark (max event time seen) passes their
    # end: all windows ending by the previous file's last event must have
    # fired, and the sink must hold every row of each window it emitted
    prev_max = con.execute(
        f"SELECT max(epoch_ms(ts)) FROM events "
        f"WHERE event_id < {n_events - STREAM_FILE_ROWS}").fetchone()[0]
    must_end = (prev_max // _DAY_MS) * _DAY_MS if prev_max else None
    if len(ahp):
        last_ms = int(ahp["ts"].max().value // 1_000_000)
        fired_end = (last_ms // _DAY_MS + 1) * _DAY_MS
    else:
        fired_end = None
    reason = None
    if must_end is not None and (fired_end or 0) < must_end:
        reason = "windows closed by the watermark did not fire"
    else:
        where = ("false" if fired_end is None else
                 f"event_id IN (SELECT event_id FROM events WHERE "
                 f"epoch_ms(ts) < {fired_end})")
        reason = oracle.compare(ahp[["event_id", "win_score"]],
                                oracle.expected(con, "online_ahp_events",
                                                where))
    con.close()
    full = oracle.connect({"events": os.path.join(data, "events.parquet")})
    reason_t = oracle.compare(top, oracle.expected(
        full, "online_topsis_predict_events", f"event_id < {n_events}"))
    full.close()
    reasons = [f"{q}: {r}" for q, r in (("online_ahp", reason),
                                        ("online_topsis_apply", reason_t)) if r]
    if reasons:
        run.fail("stream_replay", "; ".join(reasons), calls)
    run.info["gate"] = {"online_ahp": reason or "ok",
                        "online_topsis_apply": reason_t or "ok",
                        "online_ahp_rows": len(ahp),
                        "online_topsis_apply_rows": len(top)}
    return not (reason or reason_t)


def _stream_layers(run: Run, spark, data: str, progress: dict,
                   n_events: int) -> None:
    L = run.layer
    L["session.start_s"] = run.session_s
    L["operators.OnlineTopsis.fit_s"] = _span_total(
        run.tracer, "operators.OnlineTopsis.fit")
    L["operators.OnlineTopsis.jobs"] = sum(
        run.tracer.counts("operators.OnlineTopsis.fit", "jobs"))
    for name, updates in progress.items():
        batches = [p for p in updates if "addBatch" in p["durationMs"]]
        for metric, key in STREAM_DURATIONS:
            L[f"streaming.{name}.{metric}_ms_p50"] = median(
                [p["durationMs"].get(key, 0) for p in batches])
        L[f"streaming.{name}.triggers"] = len(batches)
        L[f"streaming.{name}.input_rows"] = sum(
            p["numInputRows"] for p in batches)
        if name == "online_ahp":
            ops = [p["stateOperators"][0] for p in batches
                   if p["stateOperators"]]
            L["streaming.online_ahp.state_rows"] = max(
                [o["numRowsTotal"] for o in ops], default=0)
            L["streaming.online_ahp.state_mem_bytes"] = max(
                [o["memoryUsedBytes"] for o in ops], default=0)
            L["streaming.online_ahp.state_commit_ms_p50"] = median(
                [o["commitTimeMs"] for o in ops])
    _probe_sources(run, spark, data, {"events": n_events})
