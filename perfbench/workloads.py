"""The benchmark's workloads: which inputs, which queries, and how each
query's output is checked.

Every step is called through the engine's public functions. Each is
charged to the layer that registers it (``operators``, ``llm``,
``streaming``), or to ``core`` for the MapReduce-contract calls the
``mapreduce`` workload makes directly.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import datagen
from perfbench.harness import fingerprint


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float           # scale factor of the measured inputs
    warm_sf: float      # scale factor of the warm-up inputs (another directory)
    tables: tuple[str, ...]    # the tables its queries read
    queries: tuple[str, ...]   # registry queries, in pass order
    corpus_words: int = 0      # words of the gut-*.txt corpus, which the
                               # direct MapReduce calls read; 0: neither
    probes: tuple[str, ...] = ()   # registry queries timed only in traced runs


# Each list is trimmed from a longer starting list so that a whole run,
# with its session start, warm-up and three cold/warm cycles, stays near
# a minute on four CPUs in the host's slow phases (about half that in
# its fast ones). The text steps read a corpus of the reference job's
# own size. ``word_count`` is the DataFrame form of the same job on the
# documents table, and the one query of the ``operators`` layer here.
# A stream twin and run_job with the combiner would add a third to the
# run, so they are probes: timed in traced runs only, after the passes.
WORKLOADS = {w.name: w for w in (
    Workload("mapreduce", sf=0.02, warm_sf=0.002,
             tables=("documents", "events"),
             queries=("word_count",),
             corpus_words=datagen.CORPUS_WORDS,
             probes=("stream_tumbling_counts",)),
    Workload("dedup_pipeline", sf=0.01, warm_sf=0.001,
             tables=("documents",),
             queries=("exact_dedup_docs", "minhash_lsh_pairs", "bpe_train_merges",
                      "bpe_encode_docs")),
)}


@dataclass
class Context:
    """What a step needs at call time."""
    spark: object
    sf_dir: str
    out_dir: str
    tracer: object

    @property
    def corpus(self) -> str:
        return os.path.join(self.sf_dir, "gut-*.txt")


@dataclass(frozen=True)
class Step:
    name: str
    module: str
    build: Callable[[Context], object]
    act: Callable[[Context, object], object]
    expect: str   # "oracle" (DuckDB) | "counts" (corpus counts) | "sink"


def _registry_step(name: str, fn) -> Step:
    module = fn.__module__.split(".")[1]
    return Step(name, module,
                build=lambda ctx: fn(ctx.spark, ctx.sf_dir),
                act=lambda ctx, df: fingerprint(df), expect="oracle")


def _wc_cli_build(ctx: Context):
    """The ``wc`` CLI job: read_text -> tokens -> groupBy."""
    from mapreduce_rust_spark import sources
    from mapreduce_rust_spark.functions.text import tokens
    lines = sources.read_text(ctx.spark, ctx.corpus)
    return (lines.select(F.explode(tokens(F.col("value"))).alias("key"))
                 .filter(F.col("key") != "")
                 .groupBy("key")
                 .agg(F.count("*").cast("string").alias("value")))


def sink_bytes(path: str) -> tuple[int, int]:
    """(part files, bytes) under a text sink's output directory."""
    parts = glob.glob(os.path.join(path, "part-*"))
    return len(parts), sum(os.path.getsize(p) for p in parts)


def _wc_cli_act(ctx: Context, counts_df):
    """The sink call runs the whole lazily planned job: the text scan,
    tokenizing, the shuffle and the write."""
    from mapreduce_rust_spark.sinks import write_kv_text
    path = os.path.join(ctx.out_dir, "wc")
    with ctx.tracer.span("write_kv_text", "sink") as sp:
        write_kv_text(counts_df, path, num_partitions=8)
    files, size = sink_bytes(path)
    if sp is not None:
        sp.attrs.update(files=files, bytes=size)
    return size


def _run_job_step(name: str, combined: bool) -> Step:
    def build(ctx: Context):
        from mapreduce_rust_spark.core import apps
        from mapreduce_rust_spark.core.runner import run_job
        splits = ctx.spark.sparkContext.wholeTextFiles(ctx.corpus).values()
        if combined:
            return run_job(ctx.spark, splits, apps.wc_map, apps.wc_reduce_sum,
                           num_partitions=8, combine_fn=apps.wc_combine)
        return run_job(ctx.spark, splits, apps.wc_map, apps.wc_reduce,
                       num_partitions=8)
    return Step(name, "core", build, lambda ctx, df: fingerprint(df), "counts")


def steps(workload: Workload) -> list[Step]:
    from mapreduce_rust_spark import registry
    queries = registry.queries()
    out = []
    if workload.corpus_words:
        out += [Step("wc_cli", "core", _wc_cli_build, _wc_cli_act, "sink"),
                _run_job_step("run_job", combined=False)]
    out += [_registry_step(q, queries[q]) for q in workload.queries]
    return out


def probe_steps(workload: Workload) -> list[Step]:
    """Steps a traced run times after the passes, which the run budget
    keeps out of the passes: the reference job with the combiner and
    the workload's probe queries."""
    from mapreduce_rust_spark import registry
    queries = registry.queries()
    out = [_run_job_step("run_job_combined", combined=True)] if workload.corpus_words else []
    return out + [_registry_step(q, queries[q]) for q in workload.probes]


# --- correctness -------------------------------------------------------

def _duckdb(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _as_schema(df, schema: T.StructType):
    """``df``'s columns matched to ``schema`` by (case-insensitive) name
    and cast to its types, so both sides hash the same values."""
    by_lower = {c.lower(): c for c in df.columns}
    return df.select([F.col(f"`{by_lower[f.name.lower()]}`").cast(f.dataType).alias(f.name)
                      for f in schema.fields])


def expected_results(ctx: Context, work_steps: list[Step],
                     schemas: dict[str, T.StructType]) -> dict[str, object]:
    """Each step's expected result on ``sf_dir``, from an oracle that
    does not use the engine's code path: DuckDB over the same parquet
    for registry queries, the generator's exact counts for the corpus,
    and a re-read of the files for the text sink. ``schemas`` are the
    Spark output schemas seen in the timed passes."""
    spark, sf_dir = ctx.spark, ctx.sf_dir
    counts = datagen.word_counts(sf_dir) if any(
        st.expect != "oracle" for st in work_steps) else {}
    out: dict[str, object] = {}
    duck = None
    by_schema: dict[str, object] = {}   # the counts' fingerprint per output schema
    for st in work_steps:
        if st.name not in schemas and st.expect != "sink":
            continue
        if st.expect == "oracle":
            from mapreduce_rust_spark import registry
            duck = duck or _duckdb(sf_dir)
            want = duck.execute(registry.oracles()[st.name]).arrow()
            out[st.name] = fingerprint(_as_schema(spark.createDataFrame(want),
                                                  schemas[st.name]))
        elif st.expect == "counts":
            schema = schemas[st.name]
            if schema.simpleString() not in by_schema:
                names = schema.fieldNames()
                rows = pa.table({names[0]: list(counts), names[1]: list(counts.values())})
                by_schema[schema.simpleString()] = fingerprint(
                    _as_schema(spark.createDataFrame(rows), schema))
            out[st.name] = by_schema[schema.simpleString()]
        else:
            out[st.name] = _check_sink(os.path.join(ctx.out_dir, "wc"), counts)
    return out


def _check_sink(path: str, counts: dict[str, int]) -> int | None:
    """Bytes the sink must have written, if its files hold exactly the
    expected ``key value`` lines; ``None`` otherwise."""
    got: dict[str, int] = {}
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part) as f:
            for line in f:
                k, v = line.rstrip("\n").split(" ")
                got[k] = int(v)
    if got != counts:
        return None
    return sum(len(k) + len(str(v)) + 2 for k, v in counts.items())
