"""The two workloads.  Each takes a ``Context``, measures for
``ctx.seconds`` and returns its end-to-end metrics; checks run outside
the timed regions and count into ``ctx.attempted``/``ctx.failed``;
traced runs also fill ``ctx.layers``, every layer of ``LAYERS``.

Shared vocabulary, so both workloads report every end-to-end metric:

- an *operation* is one call into the engine: a ``run_hisac_batch`` call
  (ioc_batch) or one query built and written to the noop sink
  (query_mix);
- a *pass* is one unit of useful work: both sink forks of the batch job,
  or every query of the mix once.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter

from . import inputs, oracle
from . import trace as T
from .harness import Context, log
from .poster import CountingPoster
from .stats import geomean, median, tail

# ---------------------------------------------------------------------------
# ioc_batch


BATCH_DOCS = 10_000  # key-shifted clones of the 500 fixture documents
FORKS = ("kv", "csv")  # run_hisac_batch with a poster, then without


def _csv_rows(path: str) -> tuple[int, int]:
    """(data rows, bytes) of a CSV sink directory with one header per part."""
    rows = size = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            p = os.path.join(path, f)
            size += os.path.getsize(p)
            with open(p, "rb") as fh:
                rows += max(0, sum(1 for _ in fh) - 1)
    return rows, size


def ioc_batch(ctx: Context) -> dict[str, float]:
    # generated in a child process, so the pyarrow it needs is not
    # loaded here before the timed set-up
    sf = ctx.fresh_dir("input")
    subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", str(ctx.seed), str(BATCH_DOCS), sf],
        check=True,
    )

    def call(spark, src: str, fork: str):
        from cybersecurity_ioc_etl_spark.batch import run_hisac_batch
        from cybersecurity_ioc_etl_spark.sinks.kv import SPLUNK_BATCH_LIMIT

        out = ctx.fresh_dir("out")
        poster = (
            CountingPoster(spark.sparkContext, SPLUNK_BATCH_LIMIT)
            if fork == "kv"
            else None
        )
        with ctx.span("batch.call", fork=fork):
            t0 = time.perf_counter()
            res = run_hisac_batch(spark, src, out, poster=poster)
            dt = time.perf_counter() - t0
        return res, dt, out, poster

    def warmup(spark):  # one unchecked pass over the same input
        for fork in FORKS:
            shutil.rmtree(call(spark, sf, fork)[2])

    setup_s = ctx.setup(warmup)
    from cybersecurity_ioc_etl_spark.sinks.kv import SPLUNK_BATCH_LIMIT

    _, _, rows = oracle.run(sf, ctx.oracles["ioc_type_counts"])
    expected = {t: int(n) for t, n, _ in rows}
    n_iocs = sum(expected.values())

    def check(fork: str, res: dict, out: str, poster) -> bool:
        got = {t: res.get(t, 0) for t in expected}
        if got != expected or res["n_iocs"] != n_iocs:
            return False
        if fork == "kv":
            p, c, o = poster.payloads.value, poster.calls.value, poster.oversize.value
            return p == n_iocs and o == 0 and c >= -(-n_iocs // SPLUNK_BATCH_LIMIT)
        return _csv_rows(os.path.join(out, "iocs_csv"))[0] == n_iocs

    passes, calls = [], {fork: [] for fork in FORKS}
    for k in ctx.passes():
        done = []
        with ctx.span("batch.pass"):
            for fork in FORKS:
                ctx.attempted += 1
                ctx.drop_cached()
                done.append((fork, *call(ctx.spark, sf, fork)))
        for fork, res, dt, out, poster in done:
            calls[fork].append(dt)
            if not check(fork, res, out, poster):
                ctx.fail(f"batch {fork} call {k}: {res} vs {expected}")
            shutil.rmtree(out)
        passes.append(sum(d[2] for d in done))
        log(f"pass {k}: {passes[-1]:.3f}s")
    ctx.canary("after")
    ctx.overhead(passes)

    if ctx.traced:
        _batch_layers(ctx, sf, n_iocs)
        _stream_probe(ctx)
    best = [min(ts) for ts in calls.values()]
    return {
        "setup_s": setup_s,
        "wall_s": sum(best),
        "iocs_per_s": len(FORKS) * n_iocs / sum(best),
        "query_geomean_s": geomean(best),
    }


def _batch_layers(ctx: Context, sf: str, n_iocs: int) -> None:
    """One traced pass through the batch job's layers, call by call."""
    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table
    from cybersecurity_ioc_etl_spark.sinks.kv import (
        SPLUNK_BATCH_LIMIT,
        write_csv,
        write_kv_batched,
        write_metrics,
    )
    from cybersecurity_ioc_etl_spark.sources.readers import synthetic_feed

    spark = ctx.spark
    ctx.drop_cached()
    with ctx.span("readers.scan"):
        synthetic_feed(spark, sf).write.format("noop").mode("overwrite").save()
    with ctx.span("ioc_kernel"):
        ioc_table(spark, sf).write.format("noop").mode("overwrite").save()
    iocs = ioc_table(spark, sf).cache()
    with ctx.span("batch.cache_build"):
        iocs.write.format("noop").mode("overwrite").save()
    csv_dir = ctx.fresh_dir("csv")
    with ctx.span("kv.csv_write"):
        write_csv(iocs, csv_dir)
    poster = CountingPoster(spark.sparkContext, SPLUNK_BATCH_LIMIT)
    with ctx.span("kv.post"):
        write_kv_batched(iocs, poster)
    with ctx.span("kv.metrics_write"):
        write_metrics(iocs, ctx.fresh_dir("metrics"))
    iocs.unpersist()

    jobs, stages = ctx.rest.snapshot()
    spans = ctx.tracer.spans
    owned = T.attribute(spans, jobs)
    one = {n: ctx.tracer.named(n)[-1] for n in (
        "readers.scan", "ioc_kernel", "batch.cache_build",
        "kv.csv_write", "kv.post", "kv.metrics_write")}
    cnt = {n: T.counters(T.jobs_within(s, spans, owned), stages) for n, s in one.items()}
    L = ctx.layers
    L["readers.scan_s"] = one["readers.scan"].duration
    L["readers.scan_tasks"] = cnt["readers.scan"]["tasks"]
    L["readers.input_rows"] = cnt["readers.scan"]["input_rows"]
    L["ioc_kernel.exec_s"] = one["ioc_kernel"].duration - one["readers.scan"].duration
    L["ioc_kernel.executor_cpu_s"] = (
        cnt["ioc_kernel"]["executor_cpu_s"] - cnt["readers.scan"]["executor_cpu_s"]
    )
    L["ioc_kernel.iocs_per_doc"] = n_iocs / BATCH_DOCS
    L["batch.cache_build_s"] = one["batch.cache_build"].duration
    traced_passes = {s.id for s in ctx.tracer.named("batch.pass")}
    L["batch.jobs"] = median(
        [
            len(T.jobs_within(s, spans, owned))
            for s in ctx.tracer.named("batch.call")
            if s.parent in traced_passes
        ]
    )
    L["kv.csv_write_s"] = one["kv.csv_write"].duration
    L["kv.csv_bytes"] = float(_csv_rows(csv_dir)[1])
    L["kv.post_s"] = one["kv.post"].duration
    L["kv.post_calls"] = float(poster.calls.value)
    L["kv.batch_fill"] = poster.payloads.value / (poster.calls.value * SPLUNK_BATCH_LIMIT)
    L["kv.metrics_write_s"] = one["kv.metrics_write"].duration
    ctx.engine_layers("batch.pass", owned, stages)


# ---------------------------------------------------------------------------
# the firehose stream (a layer probe of the traced ioc_batch run)

STREAM_FILE_TWEETS = 100
STREAM_INTERVAL_S = 0.1  # open-loop drop schedule: 1000 tweets/s
STREAM_PROBE_S = 4.0
_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps each micro-batch's input rows and phase durations."""

        def __init__(self):
            self.batches: dict[int, dict] = {}

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.batches[p.batchId] = {"rows": p.numInputRows, "ms": dict(p.durationMs)}

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


def _generate(files, in_dir: str, due: list[float], dropped: list[float]) -> None:
    """Open-loop generator: write each file under a hidden name at its
    scheduled time, then rename it into view, whatever the consumer does."""
    for i, (_, body) in enumerate(files):
        delay = due[i] - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(in_dir, f".f{i:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, os.path.join(in_dir, f"f{i:06d}.json"))
        dropped.append(time.perf_counter())


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    (plain and compacted entries alike)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out = {}
    for f in os.listdir(log_dir):
        if f.startswith("."):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commits(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    return {int(f) for f in os.listdir(d) if f.isdigit()} if os.path.isdir(d) else set()


def _stream_probe(ctx: Context) -> None:
    """The firehose path, open loop, for the traced ioc_batch run: an
    untimed warm-up drain, then files dropped every STREAM_INTERVAL_S
    for STREAM_PROBE_S while the main thread calls ``run_ioc_stream``
    back to back, each call resuming from the checkpoint.  Fills the
    ``stream.*`` layers and checks exactly-once delivery."""
    from cybersecurity_ioc_etl_spark.streaming.pipeline import run_ioc_stream

    n_files = round(STREAM_PROBE_S / STREAM_INTERVAL_S)
    docs = inputs.cloned_documents(ctx.seed, n_files * STREAM_FILE_TWEETS, "stream")
    files = inputs.tweet_files(docs, STREAM_FILE_TWEETS)
    warm_in = ctx.fresh_dir("warm-in")
    os.makedirs(warm_in)
    with open(os.path.join(warm_in, "f0.json"), "w") as f:
        f.write(files[0][1])
    with ctx.span("stream.warmup"):
        run_ioc_stream(ctx.spark, warm_in, ctx.fresh_dir("warm-ckpt"), ctx.fresh_dir("warm-out"))
    listener = _progress_listener()
    ctx.spark.streams.addListener(listener)

    in_dir, ckpt, out = ctx.fresh_dir("in"), ctx.fresh_dir("ckpt"), ctx.fresh_dir("out")
    os.makedirs(in_dir)
    t0 = time.perf_counter() + 0.05
    due = [t0 + i * STREAM_INTERVAL_S for i in range(len(files))]
    dropped: list[float] = []
    gen = threading.Thread(target=_generate, args=(files, in_dir, due, dropped))
    gen.start()
    drains: list[tuple[float, float, set[int]]] = []
    seen: set[int] = set()
    try:
        while True:
            last = not gen.is_alive()  # everything is on disk: final drain
            ctx.attempted += 1
            with ctx.span("stream.drain"):
                s = time.perf_counter()
                run_ioc_stream(ctx.spark, in_dir, ckpt, out)
                e = time.perf_counter()
            now = _commits(ckpt)
            drains.append((s, e, now - seen))
            seen = now
            if last:
                break
    finally:
        gen.join()

    # attribute every file to the drain whose commit covered its batch
    batch_of = _source_log(ckpt)
    drain_of_batch = {b: d for d, (_, _, bs) in enumerate(drains) for b in bs}
    drain_of_file = [
        drain_of_batch.get(batch_of.get(f"f{i:06d}.json"), len(drains) - 1)
        for i in range(len(files))
    ]
    latencies = [drains[d][1] - due[i] for i, d in enumerate(drain_of_file)]

    # committed rows must equal the batch oracle over the same tweets,
    # file by file, with nothing missing and nothing duplicated
    sf = inputs.write_documents(docs, ctx.fresh_dir("oracle-docs"))
    cols, _, want_rows = oracle.run(sf, ctx.oracles["tweet_batch_pipeline"])
    got = ctx.spark.read.parquet(out).select(*cols).collect()
    file_of_id = {str(d): i for i, (ids, _) in enumerate(files) for d in ids}
    want = Counter(oracle.rowset(want_rows))
    have = Counter(oracle.rowset([tuple(r) for r in got]))
    id_col = cols.index("id")
    bad_files = {
        file_of_id.get(r[id_col], 0) for r in (want - have) + (have - want)
    } | {i for i in range(len(files)) if f"f{i:06d}.json" not in batch_of}
    for d in sorted({drain_of_file[i] for i in bad_files}):
        ctx.fail(f"stream drain {d}: committed rows differ from the oracle")

    deadline = time.time() + 10  # progress events arrive asynchronously
    committed = {b for _, _, bs in drains for b in bs}
    while not committed <= set(listener.batches) and time.time() < deadline:
        time.sleep(0.1)
    ctx.spark.streams.removeListener(listener)
    batches = [listener.batches[b] for b in sorted(committed) if b in listener.batches]
    L = ctx.layers
    L["stream.drain_s"] = median([e - s for s, e, _ in drains])
    L["stream.file_latency_p50_s"] = median(latencies)
    L["stream.file_latency_tail_s"], L["stream.file_latency_tail_pct"] = tail(latencies)
    L["stream.iocs_per_s"] = sum(have.values()) / sum(e - s for s, e, _ in drains)
    L["stream.batches_per_drain"] = median([len(bs) for _, _, bs in drains])
    # a phase no progress event reported stays unset: a missing layer
    if batches:
        L["stream.rows_per_batch"] = median([b["rows"] for b in batches])
    for name, key in _PHASES.items():
        vals = [b["ms"][key] for b in batches if key in b["ms"]]
        if vals:
            L[f"stream.{name}"] = median(vals)
    L["stream.outside_trigger_s"] = median(
        [
            (e - s)
            - sum(listener.batches.get(b, {}).get("ms", {}).get("triggerExecution", 0) for b in bs) / 1e3
            for s, e, bs in drains
        ]
    )
    L["stream.backlog_files_max"] = float(
        max(
            sum(1 for i, t in enumerate(dropped) if t <= s and drain_of_file[i] >= d)
            for d, (s, _, _) in enumerate(drains)
        )
    )
    L["stream.gen_lag_s"] = max(t - due[i] for i, t in enumerate(dropped))


# ---------------------------------------------------------------------------
# query_mix

# one query per operator family, each timed as build + noop write.
# graph, classify and stream_queries use cheap queries of their family
# (1.2-1.8 s a call on 4 cores): pagerank_nations, stream_hll_merge and
# the lang_classifier_cv_folds perf target take 2-5 s, and with them a
# run of the mix no longer fits the benchmark's time budget
MIX = {
    "ioc_queries": "ioc_flagship",
    "relational": "pricing_summary",
    "events_queries": "events_sessionize",
    "text_queries": "doc_token_stats",
    "dedup": "dedup_exact_groups",
    "similarity": "knn_cosine_topk",
    "graph": "trade_degree_assortativity",
    "linkage": "customer_record_linkage",
    "classify": "lang_classifier_confusion",
    "stream_queries": "stream_static_category_counts",
}

# prefixes of the per-layer metrics each workload's traced run must
# fill; a layer missing from its run is a failure, not a silent 0
_COMMON = ("session.", "engine.", "trace.", "canary.")
LAYERS = {
    "ioc_batch": _COMMON + ("readers.", "ioc_kernel.", "batch.", "kv.", "stream."),
    "query_mix": _COMMON + tuple(f"{family}." for family in MIX),
}


def query_mix(ctx: Context) -> dict[str, float]:
    sf = inputs.DATA_DIR
    results: dict[str, tuple] = {}

    def run_query(spark, family: str, name: str) -> float:
        ctx.drop_cached()
        with ctx.span("query", family=family, query=name):
            t0 = time.perf_counter()
            with ctx.span("build"):
                df = ctx.queries[name](spark, sf)
            with ctx.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    def warmup(spark):
        # the warm-up materialises each full result on the driver, which
        # is what the oracle check after the passes compares
        for family, name in MIX.items():
            ctx.drop_cached()
            with ctx.span("query", family=family, query=name):
                df = ctx.queries[name](spark, sf)
                results[name] = (df.columns, dict(df.dtypes), df.collect())

    setup_s = ctx.setup(warmup)
    times: dict[str, list[float]] = {n: [] for n in MIX.values()}
    passes = []
    for k in ctx.passes():
        order = list(MIX.items())
        random.Random(f"{ctx.seed}:{k}").shuffle(order)
        with ctx.span("mix.pass"):
            wall = 0.0
            for family, name in order:
                ctx.attempted += 1
                dt = run_query(ctx.spark, family, name)
                times[name].append(dt)
                wall += dt
        passes.append(wall)
        log(f"pass {k}: {wall:.3f}s ({', '.join(f'{n} {times[n][-1]:.2f}' for _, n in order)})")
    ctx.canary("after")
    ctx.overhead(passes)

    for name, ts in times.items():
        msg = oracle.mismatch(*results[name], sf, ctx.oracles[name])
        if msg:
            ctx.failed += len(ts)
            log(f"FAILED {name}: {msg}")
    n_flagship = len(results[MIX["ioc_queries"]][2])
    log("oracle checks done")

    if ctx.traced:
        _mix_layers(ctx)
    best = [min(ts) for ts in times.values()]
    return {
        "setup_s": setup_s,
        "wall_s": sum(best),
        "iocs_per_s": n_flagship / sum(best),
        "query_geomean_s": geomean(best),
    }


def _mix_layers(ctx: Context) -> None:
    jobs, stages = ctx.rest.snapshot()
    spans = ctx.tracer.spans
    owned = T.attribute(spans, jobs)
    traced_passes = {s.id for s in ctx.tracer.named("mix.pass")}
    per: dict[str, dict[str, list[float]]] = {}
    for q in ctx.tracer.named("query"):
        if q.parent not in traced_passes:
            continue  # warm-up queries
        kids = {s.name: s for s in spans if s.parent == q.id}
        js = T.jobs_within(q, spans, owned)
        row = per.setdefault(q.attrs["family"], {"build_s": [], "exec_s": [], "jobs": [], "driver_gap_s": []})
        row["build_s"].append(kids["build"].duration)
        row["exec_s"].append(kids["exec"].duration)
        row["jobs"].append(float(len(js)))
        row["driver_gap_s"].append(T.driver_gap(q, js))
    for family, row in per.items():
        for k, v in row.items():
            ctx.layers[f"{family}.{k}"] = median(v)
    ctx.engine_layers("mix.pass", owned, stages)
