"""Benchmark of the spark-graft engine: cold and warm passes over one
workload, with every output checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The benchmark generates its inputs from
``--seed`` under ``perfbench/_cache`` (excluded from every metric),
starts one Spark session on ``local[<nproc>]``, and drives the engine
through its public functions as one closed-loop caller: the next query
starts only after the previous result is back.

1. setup: session start, on the engine's own session defaults but for
   ``SPARK_GRAFT_CPUS=<nproc>``, then a warm-up pass over the same
   queries on inputs ten times smaller, in another directory, so the
   JVM and the Python workers get warm while nothing at the measured
   scale is memoized.
2. cycles, each on a fresh input set of the measured size, repeated
   until ``--seconds`` of passes (three at the least, so the median
   can reject one slow cycle):
   - a cold pass: each query is built once and its whole output computed
     (``harness.fingerprint``), so every derivation is charged;
   - a warm pass over the same inputs in the same session: what an
     interactive caller pays to re-run, where memo hits show up.
   Each cycle starts, untimed, with a garbage collection in the JVM and
   in Python. ``cold_s``, ``warm_s`` and, traced, ``driver.peak_rss_mb``
   (driver JVM plus Python, the peak within a cycle) are the medians
   over cycles.
3. check: every result against an oracle outside the engine (DuckDB or
   the generator's exact counts), after all timing.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` the per-layer metrics, from spans kept in memory and
Spark's status store, and from steps timed only after the passes (the
workload's probe steps, the corpus read, the fixture scan and Spark's
floor costs). Each run also writes a self-describing record,
with per-query rows and (traced) every span, to ``perfbench/_out``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import datagen  # noqa: E402
from perfbench.harness import (  # noqa: E402
    Execution, SparkCounters, Tracer, count_failures, fingerprint)
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, Context, expected_results, probe_steps, steps)

BENCH = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(BENCH, "_cache")
WORK = os.path.join(BENCH, "_work")
OUT = os.path.join(BENCH, "_out")
KEEP_SEEDS = 4          # seeds whose generated inputs stay cached
MIN_CYCLES = 3          # cold/warm cycles per run, at the least
FLOOR_SF = 0.001        # input of the floor probes
FLOOR_REPEATS = 3

MODULES = ("operators", "llm", "streaming", "core")
MODULE_COUNTERS = ("jobs", "stages", "task_s", "shuffle_write_bytes",
                   "spill_bytes", "input_bytes")
FLOORS = ("empty_action", "scan", "shuffle", "local_checkpoint",
          "arrow_udf", "python_rdd", "stream_cycle")
SELF_KINDS = ("run", "setup", "session", "warmup", "pass", "query", "build",
              "action", "read", "sink", "floor", "scan")

# Which end-to-end metric, on which workload, each per-layer metric
# should move. Written into every traced record. A query's counters
# (``<module>.jobs`` .. ``<module>.input_bytes``) cover its build and its
# action, because a stream twin drains and an llm query checkpoints
# while it is built; ``<module>.action_s`` is the action's time alone.
LAYER_TARGETS = {
    "session.*": "setup_s on every workload",
    "tables.scan_s": "cold_s on mapreduce",
    "registry.build_s, registry.build_jobs": "cold_s on dedup_pipeline (memo derivations)",
    "registry.warm_build_*, cache.*": "warm_s on dedup_pipeline; cold_s flat",
    "operators.*": "cold_s on mapreduce",
    "llm.*": "cold_s on dedup_pipeline",
    "core.*, sources.*, sinks.*": "cold_s on mapreduce, and on no other workload",
    "streaming.*, core.runner.combined_s, core.runner.combine_ratio":
        "probes on mapreduce (a stream twin; run_job with the combiner), each "
        "timed once after the passes, after one untimed call: they move no "
        "end-to-end metric, as the run budget keeps them out of the passes",
    "sources.read_text_s": "the corpus read through sources.read_text, every "
                           "column computed, timed on its own after the passes",
    "sinks.write_kv_text_s": "the wc sink call: it runs the whole lazy job "
                             "(text scan, tokenizing, shuffle, write)",
    "*.spill_bytes": "trades against driver.peak_rss_mb",
    "driver.peak_rss_mb": "the memory a user's driver needs; G1's heap sizing "
                          "makes it vary too much run to run for a bound",
    "floor.*": "the fixed cost under every query of its layer",
}


def _declared_metrics(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def _engine_origin() -> str | None:
    """The engine package must come from this checkout, not from an
    installed copy."""
    spec = importlib.util.find_spec("mapreduce_rust_spark")
    if spec is None or spec.origin is None:
        return None
    origin = os.path.abspath(spec.origin)
    return origin if origin.startswith(ROOT + os.sep) else None


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def _evict_old_inputs(base: str, keep: int) -> None:
    """Keep only the ``keep`` newest input directories under ``base``."""
    if not os.path.isdir(base):
        return
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _input_size(sf_dir: str) -> dict:
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, name)
        if name.endswith(".parquet"):
            out[name[:-8]] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                              "bytes": os.path.getsize(path)}
        elif name.startswith("gut-"):
            out[name] = {"bytes": os.path.getsize(path)}
    return out


def _configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("tmp", "local", "warehouse", "stream"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    # hsperfdata would go to /tmp whatever java.io.tmpdir says, also for
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={work}/local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _quiet_glob_probe_warning(spark) -> None:
    """A text read of a glob logs a stack trace while it probes for a
    metadata directory that a plain file set never has; keep stderr
    readable."""
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR)


def _driver_pids(spark) -> dict[str, int]:
    return {"jvm": spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(),
            "python": os.getpid()}


def _settle(spark) -> None:
    """Before a cycle, untimed: collect garbage in the JVM and in Python,
    so no cycle pays for an earlier one's garbage and the heap the JVM
    keeps is sized by live data, not by when its last collection ran;
    then restart the peak-RSS marks (``VmHWM``) at the current RSS."""
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()
    for pid in _driver_pids(spark).values():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (MB) of the session's JVM and of this Python
    process since the last ``_settle``."""
    out = {}
    for name, pid in _driver_pids(spark).items():
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out[name] = kb / 1024.0
    return out


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


class Bench:
    """Runs a workload's steps as passes, one closed-loop call at a time."""

    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.tracer = tracer
        self.steps = steps(workload)
        self.ran_at: set[tuple[str, str]] = set()
        self.schemas: dict = {}

    def run_step(self, step, ctx, pass_name: str):
        from mapreduce_rust_spark.streaming import windows

        self.spark.sparkContext.setJobGroup(f"{pass_name}:{step.name}", step.name)
        self.ran_at.add((step.name, ctx.sf_dir))
        ex = Execution(step.name, pass_name, step.module, 0.0, 0.0)
        prev_stats = windows.LAST_STREAM_STATS
        with self.tracer.span(step.name, "query", module=step.module,
                              pass_name=pass_name) as qs:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("build", "build", counted=True):
                    obj = step.build(ctx)
                t1 = time.perf_counter()
                ex.build_s = t1 - t0
                with self.tracer.span("action", "action", counted=True):
                    ex.result = step.act(ctx, obj)
                ex.action_s = time.perf_counter() - t1
                if isinstance(obj, DataFrame):
                    self.schemas[step.name] = obj.schema
            except Exception as exc:  # noqa: BLE001 — a failed query is counted; the run goes on
                ex.error = f"{type(exc).__name__}: {exc}"[:2000]
                traceback.print_exc(file=sys.stderr)
            stats = windows.LAST_STREAM_STATS
            if qs is not None and stats is not prev_stats and stats:
                qs.attrs["stream"] = dict(stats)
        return ex

    def run_pass(self, ctx, pass_name: str, kind: str = "pass"):
        with self.tracer.span(pass_name, kind):
            t0 = time.perf_counter()
            execs = [self.run_step(st, ctx, pass_name) for st in self.steps]
            return time.perf_counter() - t0, execs


def _context(spark, sf_dir: str, out_dir: str, tracer):
    os.makedirs(out_dir, exist_ok=True)
    return Context(spark, sf_dir, out_dir, tracer)


def _floor_probes(spark, tracer, floor_dir: str, work: str) -> dict[str, float]:
    """Spark's fixed cost per layer, each the median of a few calls
    after one untimed call."""
    lineitem = os.path.join(floor_dir, "lineitem.parquet")
    schema = spark.read.parquet(lineitem).schema
    sc = spark.sparkContext

    def stream_cycle():
        ckpt = os.path.join(work, "stream", f"floor-{time.monotonic_ns()}")
        q = (spark.readStream.schema(schema).parquet(lineitem + "*")
                  .writeStream.format("memory").queryName("perfbench_floor")
                  .option("checkpointLocation", ckpt)
                  .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    probes = {
        "empty_action": lambda: spark.range(0).count(),
        "scan": lambda: fingerprint(spark.read.parquet(lineitem)),
        "shuffle": lambda: spark.range(0, 100_000, 1, 4).groupBy(
            (F.col("id") % 1000).alias("k")).count().collect(),
        "local_checkpoint": lambda: spark.range(0, 100_000, 1, 4).localCheckpoint(eager=True),
        "arrow_udf": lambda: fingerprint(spark.range(0, 100_000, 1, 4).mapInPandas(
            lambda it: it, "id long")),
        "python_rdd": lambda: sc.parallelize(range(100_000), 4).flatMap(lambda x: (x,)).count(),
        "stream_cycle": stream_cycle,
    }
    out = {}
    for name in FLOORS:
        probes[name]()
        times = []
        for _ in range(FLOOR_REPEATS):
            with tracer.span(name, "floor"):
                t0 = time.perf_counter()
                probes[name]()
                times.append(time.perf_counter() - t0)
        out[f"floor.{name}_s"] = statistics.median(times)
    return out


def _traced_extras(spark, bench, cycle, wl, floor_dir, work):
    """Measurements only a traced run makes, after the timed passes: the
    tracing overhead (the last traced warm pass minus an untraced one on
    the same inputs), the fixture scan, the corpus read, the probe steps
    and the floor probes. Returns the metrics and the probe steps'
    executions, whose results are checked like the passes'."""
    from mapreduce_rust_spark import sources
    from mapreduce_rust_spark.tables import load_table

    tracer, ctx = bench.tracer, cycle["ctx"]
    tracer.enabled = False
    untraced_warm, _ = bench.run_pass(ctx, "warm_untraced")
    tracer.enabled = True
    out = {"trace.overhead_s": cycle["warm_s"] - untraced_warm}
    with tracer.span("tables", "scan") as sp:
        for t in wl.tables:
            fingerprint(load_table(spark, ctx.sf_dir, t))
    out["tables.scan_s"] = sp.end - sp.start
    out["sources.read_text_s"] = 0.0
    if wl.corpus_words:
        with tracer.span("read_text", "read") as sp:
            fingerprint(sources.read_text(spark, ctx.corpus))
        out["sources.read_text_s"] = sp.end - sp.start
    probes = []
    for st in probe_steps(wl):
        probes += [bench.run_step(st, ctx, "probe_warmup"), bench.run_step(st, ctx, "probe")]
    out.update(_floor_probes(spark, tracer, floor_dir, work))
    return out, probes


def _run_context(spark, args, wl, sf_dir: str, gen_s: float) -> dict:
    """What a reader needs to compare this record with another."""
    return {
        "host": platform.node(), "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "commit": _git_commit(), "seed": args.seed, "seconds": args.seconds,
        "workload": wl.name, "sf": wl.sf, "warm_sf": wl.warm_sf,
        "corpus_words": wl.corpus_words,
        "input": _input_size(sf_dir), "input_generation_s": gen_s,
    }


def _layer_metrics(cold, warm, probes, spans) -> dict[str, float]:
    """Per-layer numbers of a traced run, from its spans: the first cold
    pass, and the warm pass after it for what the session's memos save."""
    by_id = {sp["id"]: sp for sp in spans}

    def query_of(sp):
        while sp is not None and sp["kind"] != "query":
            sp = by_id.get(sp["parent"])
        return sp

    counters = {}  # (pass, query) -> {"build": {...}, "action": {...}}
    for sp in spans:
        if sp["kind"] in ("build", "action"):
            q = query_of(sp)
            counters.setdefault((q["attrs"]["pass_name"], q["name"]), {})[sp["kind"]] = \
                sp["counters"] or {}

    def total(passes, kinds, key="jobs", names=None):
        return sum(c.get(kind, {}).get(key, 0) for (p, n), c in counters.items()
                   if p in passes and (names is None or n in names) for kind in kinds)

    measured = ("cold1", "probe")   # the first cold pass and the timed probes

    def in_measured(sp):
        q = query_of(sp)
        return q is not None and q["attrs"]["pass_name"] in measured

    m: dict[str, float] = {
        "registry.build_s": sum(e.build_s for e in cold),
        "registry.build_jobs": total(("cold1",), ("build",)),
        "registry.warm_build_s": sum(e.build_s for e in warm),
        "registry.warm_build_jobs": total(("warm1",), ("build",)),
        "cache.cold_jobs": total(("cold1",), ("build", "action")),
        "cache.warm_jobs": total(("warm1",), ("build", "action")),
    }
    m["cache.warm_to_cold_jobs"] = m["cache.warm_jobs"] / max(m["cache.cold_jobs"], 1)
    timed = cold + [p for p in probes if p.pass_name == "probe"]
    for mod in MODULES:
        names = {e.name for e in timed if e.module == mod}
        m[f"{mod}.action_s"] = sum(e.action_s for e in timed if e.module == mod)
        for key in MODULE_COUNTERS:
            m[f"{mod}.{key}"] = total(measured, ("build", "action"), key, names)

    wall = {e.name: e.build_s + e.action_s for e in timed}
    # PySpark's RDD shuffle writes serialized batches, so Spark's record
    # count there is a batch count; bytes are what the combiner saves.
    both = ("build", "action")
    plain = total(measured, both, "shuffle_write_bytes", {"run_job"})
    combined = total(measured, both, "shuffle_write_bytes", {"run_job_combined"})
    m["core.runner.run_job_s"] = wall.get("run_job", 0.0)
    m["core.runner.combined_s"] = wall.get("run_job_combined", 0.0)
    m["core.runner.shuffle_bytes"] = plain
    m["core.runner.combine_ratio"] = combined / plain if plain else 0.0

    sinks = [sp for sp in spans if sp["kind"] == "sink" and in_measured(sp)]
    m["sinks.write_kv_text_s"] = sum(sp["end"] - sp["start"] for sp in sinks)
    m["sinks.bytes_written"] = sum(sp["attrs"]["bytes"] for sp in sinks)
    m["sinks.files_written"] = sum(sp["attrs"]["files"] for sp in sinks)

    twins = [sp for sp in spans if sp["kind"] == "query" and in_measured(sp)
             and sp["attrs"].get("stream")]
    trigger = sum(sp["attrs"]["stream"]["trigger_ms_sum"] for sp in twins) / 1000.0
    m["streaming.trigger_s"] = trigger
    m["streaming.batches"] = sum(sp["attrs"]["stream"]["num_batches"] for sp in twins)
    m["streaming.harness_s"] = sum(sp["end"] - sp["start"] for sp in twins) - trigger
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if _engine_origin() is None:
        print("perfbench: the engine package mapreduce_rust_spark is not in "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    # Inputs: generated outside every metric and cached per seed. Only
    # the tables the workload reads are written: none of its queries
    # registers SQL views over the whole fixture set.
    t_gen = time.perf_counter()
    base = os.path.join(CACHE, wl.name)
    _evict_old_inputs(base, 4 * KEEP_SEEDS)
    _evict_old_inputs(os.path.join(CACHE, "floor"), KEEP_SEEDS)
    warm_dir = datagen.generate(os.path.join(base, f"seed{args.seed}-warmup"),
                                args.seed, wl.warm_sf, wl.tables,
                                corpus_words=wl.corpus_words // 10)
    floor_dir = (datagen.generate(os.path.join(CACHE, "floor", f"seed{args.seed}"),
                                  args.seed, FLOOR_SF, ("lineitem",))
                 if args.trace else None)
    gen_s = time.perf_counter() - t_gen

    def cycle_dir(k: int) -> str:
        return datagen.generate(os.path.join(base, f"seed{args.seed}-part{k}"),
                                args.seed, wl.sf, wl.tables, part=k,
                                corpus_words=wl.corpus_words)

    work = os.path.join(WORK, f"{wl.name}-{os.getpid()}")
    _configure_env(work)
    spark = None
    try:
        tracer = Tracer(bool(args.trace))
        with tracer.span("run", "run"):
            from mapreduce_rust_spark import session
            with tracer.span("setup", "setup"):
                with tracer.span("session", "session"):
                    t_session = time.perf_counter()
                    spark = session.get_spark("perfbench")
                session_ready = time.perf_counter()
                spark.conf.set("spark.mapreduce_rust_spark.stream.scratchDir",
                               os.path.join(work, "stream"))
                _quiet_glob_probe_warning(spark)
                if args.trace:
                    tracer.counters = SparkCounters(spark)
                bench = Bench(spark, wl, tracer)
                _, warmup = bench.run_pass(
                    _context(spark, warm_dir, os.path.join(work, "warm-out"), tracer),
                    "warmup", kind="warmup")
            setup_s = time.perf_counter() - T_PROCESS - gen_s

            # Cycles of a cold pass and a warm pass, each cycle on a fresh
            # input set of the same size, until --seconds of passes.
            cycles = []
            while len(cycles) < MIN_CYCLES or sum(
                    c["cold_s"] + c["warm_s"] for c in cycles) < args.seconds:
                k = len(cycles) + 1
                ctx = _context(spark, cycle_dir(k), os.path.join(work, f"out{k}"), tracer)
                # A cold pass may charge nothing to an earlier run on its inputs.
                ran = sorted(n for n, d in bench.ran_at if d == ctx.sf_dir)
                if ran:
                    raise RuntimeError(f"queries already ran on the measured inputs: {ran}")
                _settle(spark)
                cold_s, cold = bench.run_pass(ctx, f"cold{k}")
                warm_s, warm = bench.run_pass(ctx, f"warm{k}")
                cycles.append({"ctx": ctx, "cold_s": cold_s, "cold": cold,
                               "warm_s": warm_s, "warm": warm,
                               "peak_rss_mb": _peak_rss_mb(spark)})

            probes = []
            if args.trace:
                metrics, probes = _traced_extras(spark, bench, cycles[-1], wl,
                                                 floor_dir, work)
                metrics.update(_layer_metrics(cycles[0]["cold"], cycles[0]["warm"],
                                              probes, tracer.records()))
                metrics["session.start_s"] = session_ready - t_session
                metrics["session.warmup_s"] = sum(e.build_s + e.action_s for e in warmup)
                metrics["trace.cold_s"] = statistics.median(c["cold_s"] for c in cycles)
                metrics["driver.peak_rss_mb"] = statistics.median(
                    sum(c["peak_rss_mb"].values()) for c in cycles)
            else:
                metrics = {"setup_s": setup_s,
                           "cold_s": statistics.median(c["cold_s"] for c in cycles),
                           "warm_s": statistics.median(c["warm_s"] for c in cycles)}

            # Correctness, after all timing: each cycle against its inputs,
            # the cycles' oracles side by side. Probes ran on the last cycle.
            def check(c):
                last = c is cycles[-1]
                execs = c["cold"] + c["warm"] + (probes if last else [])
                want = expected_results(c["ctx"], bench.steps + (probe_steps(wl) if last else []),
                                        bench.schemas)
                return execs, [(e, want.get(e.name)) for e in count_failures(execs, want)]

            attempted, failures = [], []
            with ThreadPoolExecutor(len(cycles)) as pool:
                for execs, failed in pool.map(check, cycles):
                    attempted += execs
                    failures += failed
            context = _run_context(spark, args, wl, cycles[0]["ctx"].sf_dir, gen_s)
        if args.trace:
            self_times = tracer.self_times()
            metrics.update({f"self.{k}_s": self_times.get(k, 0.0) for k in SELF_KINDS})
        record = {
            "context": {**context, "cycles": len(cycles)},
            "metrics": metrics,
            "cycles": [{k: c[k] for k in ("cold_s", "warm_s", "peak_rss_mb")}
                       for c in cycles],
            "failed": [{"name": e.name, "pass": e.pass_name, "error": e.error,
                        "result": e.result, "expected": want} for e, want in failures],
            "queries": [vars(e) for e in warmup + attempted],
            "layer_targets": LAYER_TARGETS if args.trace else None,
            "spans": tracer.records(),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str, indent=1)
    for e, _ in failures:
        print(f"FAILED {e.name} ({e.pass_name}): {e.error or 'wrong result'}", file=sys.stderr)
    declared = _declared_metrics(bool(args.trace))
    if set(declared) != set(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: missing "
              f"{sorted(set(declared) - set(metrics))}, undeclared "
              f"{sorted(set(metrics) - set(declared))}", file=sys.stderr)
        return 1
    print(f"{'failed_frac':36s} {len(failures) / len(attempted):16.6f} "
          f"({len(failures)} of {len(attempted)})", file=sys.stderr)
    for name, unit in declared.items():
        print(f"{name:36s} {metrics[name]:16.6f} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(attempted),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
