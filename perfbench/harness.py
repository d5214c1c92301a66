"""What every workload shares: the Spark session lifecycle, the timed
set-up, the host-noise canary, and the per-layer summaries built from
spans and Spark counters."""

from __future__ import annotations

import os
import resource
import sys
import time

from . import trace as T
from .stats import median

MIN_PASSES = 3

# what importing the engine loads; set-up times these imports
ENGINE_IMPORTS = ("pyspark", "cybersecurity_ioc_etl_spark", "pyarrow", "pandas", "numpy")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the seconds since start."""
    print(f"# [{time.perf_counter() - _T0:5.1f}s] {msg}", file=sys.stderr, flush=True)


class Context:
    """One run: its seed, time budget, scratch directory, tracer and the
    live Spark session, plus the operation tallies behind
    ``attempted``/``failed``."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = T.Tracer(traced)
        self.spark = None
        self.queries: dict = {}  # the engine's query registry, after set-up
        self.oracles: dict[str, str] = {}
        self.rest: T.SparkRest | None = None
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    # -- session lifecycle -------------------------------------------------

    def setup(self, warmup) -> float:
        """The cold set-up every process pays, timed as one: import the
        engine and launch the JVM (``get_spark``), import the query
        registry, warm the workload's plan shapes.  Nothing the engine
        imports may be loaded before, or its import would go untimed."""
        early = [m for m in ENGINE_IMPORTS if m in sys.modules]
        if early:
            raise RuntimeError(f"imported before set-up: {early}")
        with self.span("setup"):
            t0 = time.perf_counter()
            with self.span("session.start"):
                from cybersecurity_ioc_etl_spark.session import get_spark

                self.spark = get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            with self.span("registry.import"):
                import __spark_entry__

                self.queries = __spark_entry__.queries()
                self.oracles = __spark_entry__.oracle_sql()
            t2 = time.perf_counter()
            with self.span("session.warmup"):
                warmup(self.spark)
            t3 = time.perf_counter()
        log(f"setup: {t3 - t0:.3f}s (start {t1 - t0:.3f}s, registry {t2 - t1:.3f}s, warm-up {t3 - t2:.3f}s)")
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.registry_import_s"] = t2 - t1
        self.layers["session.warmup_s"] = t3 - t2
        if self.traced:
            self.rest = T.SparkRest(self.spark)
        return t3 - t0

    def canary(self, when: str) -> float:
        """Best of three pure-JVM range sums (no IO, no shuffle): a
        diagnostic of host contention, never a gate."""
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(1 << 26).selectExpr("sum(id % 7) AS s").collect()
            best = min(best, time.perf_counter() - t0)
        self.layers[f"canary.{when}_s"] = best
        log(f"canary {when}: {best:.4f}s")
        return best

    def drop_cached(self) -> None:
        """Unpersist RDDs left by the previous operation (checkpoints and
        caches of a finished query are garbage)."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to
        exit; the JVM's peak RSS is then readable from rusage."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        SparkContext._gateway = None
        SparkContext._jvm = None
        try:
            gw.shutdown()
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        self.layers["session.jvm_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
        )

    # -- measured loop -------------------------------------------------------

    def passes(self):
        """Yield pass numbers until ``seconds`` have elapsed and at least
        ``MIN_PASSES`` ran, after the "before" canary.  Workloads report
        each operation's best time over the passes: the first pass after
        the warm-up runs 10-30% slower while the JIT catches up, and on a
        shared host contention comes in bursts that slow single passes
        by up to 20%; both only ever add time.  A traced run
        alternates untraced and traced passes, so its tracing overhead
        is measured within the run."""
        self.canary("before")
        t_end = time.perf_counter() + self.seconds
        k = 0
        while time.perf_counter() < t_end or k < MIN_PASSES:
            self.tracer.enabled = self.traced and k % 2 == 1
            # start every pass from a collected heap, so GC pauses left
            # over from the previous pass land outside the measurement
            self.spark.sparkContext._jvm.System.gc()
            yield k
            k += 1
        self.tracer.enabled = self.traced

    def overhead(self, walls: list[float]) -> None:
        """``trace.overhead_s``: median traced minus median untraced pass
        (passes alternate, the odd ones traced).  Pass 0 is left out: the
        first pass after a set-up runs measurably slower."""
        if self.traced:
            self.layers["trace.overhead_s"] = median(walls[1::2]) - median(walls[2::2])

    # -- per-layer summaries (traced runs) -----------------------------------

    def engine_layers(self, unit: str, owned, stages) -> None:
        """``engine.*``: Spark counters per traced pass, their median over
        passes, plus the driver gap; ``trace.pass_self_s`` is the part of
        a pass no operation span covers (the benchmark's own time)."""
        spans = self.tracer.spans
        rows, self_times = [], []
        for s in self.tracer.named(unit):
            jobs = T.jobs_within(s, spans, owned)
            c = T.counters(jobs, stages)
            c["driver_gap_s"] = T.driver_gap(s, jobs)
            rows.append(c)
            self_times.append(T.self_time(s, spans))
        for k in (*T.COUNTERS, "driver_gap_s"):
            self.layers[f"engine.{k}"] = median([r[k] for r in rows])
        self.layers["trace.pass_self_s"] = median(self_times)
