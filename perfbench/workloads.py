"""The three workloads. Each one generates its inputs from the seed into
the work directory, sets up (timed, several rounds), runs the library's
public pipeline functions for the measured period, checks the output
against an independent computation and returns its figures.

- ingest: batch RAG ingest of mixed-format files (parsers, partition,
  chunking, embedding, parquet output; no shuffle).
- corpus: pre-training corpus hygiene (boilerplate, PII, quality gate,
  near-dup drop, decontamination, token budget, shuffle, packing; bound
  by JVM shuffles and job count).
- stream: incremental ingest of bursts of files moved into a watched
  directory, deduplicated against a history index (per-batch overhead,
  point-lookup dedup, a sink written while reading).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time

from perfbench import check, gen, harness, procstat, trace
from perfbench.harness import Bench, quantile

EMBED_DIM = 64
INGEST_CHUNKING = {}  # by_title defaults: 500-char chunks
STREAM_CHUNKING = {"max_characters": 2000, "combine_text_under_n_chars": 0}
WARM_PASSES = 2
STREAM_BURST = 8  # files per burst; the next burst waits for its commit (closed loop)
BLOOM = {"m_bits": 1 << 12, "k": 4}

SPARK_LAYERS = ("sources", "operators.partition_auto", "operators.embed", "operators.serde",
                "operators.dedup", "operators.pii", "operators.quality_filters",
                "operators.sampling")
SPARK_FIELDS = {"wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s",
                "shuffle_mb": "MB", "py_s": "s", "arrow_mb": "MB"}
PER_LAYER: dict[str, str] = {
    **{f"{layer}.{f}": u for layer in SPARK_LAYERS for f, u in SPARK_FIELDS.items()},
    "operators.partition_auto.task_skew": "ratio",
    **{f"parsers.{fmt}.ms_per_mb": "ms/MB" for fmt in gen.FORMATS},
    "parsers.elements_per_doc": "count",
    "parsers.failed": "count",
    "operators.chunking.ms_per_kelem": "ms",
    "operators.chunking.chunks_out": "count",
    "operators.dedup.bloom_suspect_frac": "ratio",
    "operators.dedup.bloom_suspect_base": "count",
    "operators.dedup.bloom_precision": "ratio",
    "operators.dedup.bloom_precision_base": "count",
    "operators.dedup.drop_frac": "ratio",
    "operators.dedup.drop_base": "count",
    "operators.quality_filters.keep_frac": "ratio",
    "operators.quality_filters.keep_base": "count",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.planning_s_p50": "s",
    "streaming.rows_per_batch": "count",
    "streaming.latency_samples": "count",
    "setup.jvm_launch_s": "s",
    "setup.session_s": "s",
    "setup.worker_warm_s": "s",
    "setup.index_build_s": "s",
    "jvm.jit_s": "s",
    "trace.overhead": "ratio",
    "trace.accounted_frac": "ratio",
}


class Result:
    """What one workload run reports: end-to-end figures (untraced) or
    per-layer figures (traced), the attempted/failed counts, and the
    problems the output checks found."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: dict = {}
        self.extra: dict = {}


def write_files(docs: list[gen.Doc], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for d in docs:
        with open(os.path.join(directory, d.name), "wb") as fh:
            fh.write(d.data)


@contextlib.contextmanager
def layer(spark, tracer: trace.Tracer, name: str):
    """A span around one layer call, with its Spark jobs in job group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        with tracer.span(name):
            yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def materialize(df, held: list):
    """Compute ``df`` now, inside the current layer's span, and keep it
    cached for the next layer."""
    df = df.persist()
    df.count()
    held.append(df)
    return df


def spark_layer_metrics(bench: Bench, tracer: trace.Tracer, out: Result) -> None:
    bench.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spans = tracer.by_name()
    groups = trace.group_metrics(trace.read_events(bench.event_dir))
    for name in SPARK_LAYERS:
        g = groups.get(name, {})
        s = spans.get(name, {})
        for f in SPARK_FIELDS:
            out.metrics[f"{name}.{f}"] = float(s.get(f, g.get(f, 0.0)))
    out.metrics["operators.partition_auto.task_skew"] = groups.get(
        "operators.partition_auto", {}).get("task_skew", 0.0)
    roots = [i for i, s in enumerate(tracer.spans) if s.parent is None]
    out.metrics["trace.accounted_frac"] = 1.0 - (sum(tracer.self_s(i) for i in roots)
                                                 / sum(tracer.wall_s(i) for i in roots))
    spans_dir = os.path.join(os.path.dirname(bench.work), "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(os.path.join(spans_dir, os.path.basename(bench.work) + ".jsonl"))


def parser_probe(out: Result) -> None:
    """Driver-side calls into the parsers and the chunker on a fixed
    sample (seed 0, independent of the run's seed)."""
    from unstructured_spark import api
    from unstructured_spark.parsers.dispatch import partition_bytes

    sample = [d for d in gen.ingest_docs(0) if d.expect == "elements"]
    n_el, failed, elements = 0, 0, []
    for fmt in gen.FORMATS:
        docs = [d for d in sample if d.fmt == fmt][:8]
        mb = sum(len(d.data) for d in docs) / 2**20
        passes = []
        for i in range(3):
            t0 = time.perf_counter()
            for d in docs:
                try:
                    partition_bytes(d.data, filename=d.name)
                except ValueError:
                    failed += i == 0
            passes.append(time.perf_counter() - t0)
        out.metrics[f"parsers.{fmt}.ms_per_mb"] = statistics.median(passes) * 1e3 / mb
        for d in docs:
            els = api.partition(file=io.BytesIO(d.data), metadata_filename=d.name)
            n_el += len(els)
            elements.append(els)
    out.metrics["parsers.elements_per_doc"] = n_el / len(elements)
    out.metrics["parsers.failed"] = failed
    passes, chunks = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        chunks = sum(len(api.chunk_by_title(els)) for els in elements)
        passes.append(time.perf_counter() - t0)
    out.metrics["operators.chunking.ms_per_kelem"] = statistics.median(passes) * 1e3 / (n_el / 1e3)
    out.metrics["operators.chunking.chunks_out"] = chunks


def setup_metrics(bench: Bench, out: Result, traced: bool) -> None:
    """Set-up cost in process-tree CPU-seconds less JIT (procstat.cpu_s):
    the one JVM launch plus the median round (wall seconds go on the
    context line)."""
    if traced:
        out.metrics["setup.jvm_launch_s"] = bench.launch["cpu"]
        for k in ("session", "worker_warm", "index_build"):
            out.metrics[f"setup.{k}_s"] = bench.setup_median(f"{k}_cpu")
    else:
        out.metrics["setup_s"] = bench.setup_median("setup_cpu")
        out.extra["setup_wall_s"] = bench.setup_median("setup_wall")


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def ingest(bench: Bench, seed: int, seconds: int, traced: bool) -> Result:
    from unstructured_spark import api
    from unstructured_spark.operators.embed import HashingEncoder, embed_elements
    from unstructured_spark.operators.partition_auto import partition_and_chunk
    from unstructured_spark.operators.serde import write_elements_parquet
    from unstructured_spark.sources.files import read_documents

    docs = gen.ingest_docs(seed)
    in_dir = os.path.join(bench.work, "in")
    out_dir = os.path.join(bench.work, "out")
    write_files(docs, in_dir)
    bench.setup(gen.FORMATS)
    spark = bench.spark

    def pipeline() -> None:
        d = read_documents(spark, in_dir)
        c = partition_and_chunk(d, chunking_strategy="by_title", chunk_kwargs=INGEST_CHUNKING,
                                on_error="capture")
        write_elements_parquet(embed_elements(c, HashingEncoder), out_dir)

    def traced_pipeline(tracer: trace.Tracer) -> None:
        held: list = []
        with tracer.span("pipeline"):
            with layer(spark, tracer, "sources"):
                d = materialize(read_documents(spark, in_dir), held)
            with layer(spark, tracer, "operators.partition_auto"):
                c = materialize(partition_and_chunk(
                    d, chunking_strategy="by_title", chunk_kwargs=INGEST_CHUNKING,
                    on_error="capture"), held)
            with layer(spark, tracer, "operators.embed"):
                e = materialize(embed_elements(c, HashingEncoder), held)
            with layer(spark, tracer, "operators.serde"):
                write_elements_parquet(e, out_dir)
        for df in held:
            df.unpersist()

    def output() -> list[dict]:
        cols = ["filename", "doc_id", "element_index", "type", "text", "embeddings"]
        return [r.asDict() for r in spark.read.parquet(out_dir).select(*cols).collect()]

    out = Result()
    corpus_failed = 0
    if traced:
        # the corpus chain's layers (pii, quality_filters, sampling and
        # the dedup drops) are traced here, after the ingest pipeline:
        # one untraced one-shot pass warms the JVM, then the traced
        # stage-at-a-time pass must give the same rows
        ci = CorpusInput(bench, seed)

        def after_trace(tracer: trace.Tracer) -> None:
            nonlocal corpus_failed
            want = check.digest(tuple(sorted(r.items())) for r in corpus_pass(bench, ci))
            rows = corpus_traced(bench, tracer, ci, out)
            if check.digest(tuple(sorted(r.items())) for r in rows) != want:
                out.problems["corpus trace"] = "traced corpus rows differ from the one-shot chain's"
            corpus_failed = ci.check(rows, out)
    runs = batch_phase(bench, seconds, traced, pipeline, traced_pipeline, output, out,
                       after_trace if traced else None)
    rows = output()
    expected = {}
    for d in docs:
        if d.expect == "error":
            expected[d.name] = None
        else:
            els = api.partition(filename=os.path.join(in_dir, d.name), chunking_strategy="by_title",
                                **INGEST_CHUNKING)
            expected[d.name] = [(e.category, e.text) for e in els]
    bad = check.check_ingest(rows, expected, EMBED_DIM)
    out.problems.update(bad)
    out.attempted = len(docs) * len(runs) + (len(ci.c.docs) if traced else 0)
    out.failed = len(bad) * len(runs) + corpus_failed
    if not traced:
        out.metrics["docs_per_s"] = len(docs) / statistics.median(w for w, _ in runs)
    return out


def batch_phase(bench: Bench, seconds: int, traced: bool, pipeline, traced_pipeline, output,
                out: Result, after_trace=None) -> list[tuple[float, float]]:
    """Untraced: the timed loop, with cpu_s, peak_rss_mb and setup_s.
    Traced: one untraced and one traced run, whose outputs must agree;
    ``after_trace(tracer)`` may add more traced work; then the per-layer
    figures and the tracing overhead."""
    setup_metrics(bench, out, traced)
    # untimed warm-up runs: the first runs in a session also pay code
    # generation and run code the JIT has not compiled yet
    for _ in range(WARM_PASSES):
        pipeline()
    if not traced:
        with procstat.Sampler() as sampler:
            meter = harness.Meter(sampler)
            runs = harness.timed_loop(seconds, pipeline, meter)
        walls = [w for w, _ in runs]
        out.metrics["latency_p50_s"] = quantile(walls, 0.50)
        out.metrics["latency_p95_s"] = quantile(walls, 0.95)
        out.extra["latency_samples"] = len(walls)
        out.metrics["cpu_s"] = statistics.median(c for _, c in runs)
        out.metrics["peak_rss_mb"] = sampler.peak_mb
        out.extra["sampler_cpu_s_per_run"] = sampler.cpu_s() / len(runs)
        out.extra["jit_cpu_s_per_run"] = meter.jit_s / len(runs)
        out.extra["runs"] = [[round(w, 4), round(c, 2)] for w, c in runs]
        return runs
    meter = harness.Meter(None)
    untraced = harness.timed_loop(0, pipeline, meter)
    out.metrics["jvm.jit_s"] = meter.jit_s
    d0 = check.digest(tuple(sorted(r.items())) for r in output())
    tracer = trace.Tracer(run_id=f"{os.getpid()}")
    t0 = time.perf_counter()
    traced_pipeline(tracer)
    wall = time.perf_counter() - t0
    d1 = check.digest(tuple(sorted(r.items())) for r in output())
    if d0 != d1:
        out.problems["trace"] = "traced output digest differs from the untraced run's"
    out.metrics["trace.overhead"] = wall / untraced[0][0]
    if after_trace is not None:
        after_trace(tracer)
    spark_layer_metrics(bench, tracer, out)
    parser_probe(out)
    return untraced


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


class CorpusInput:
    """A seeded corpus written as parquet into the work directory."""

    def __init__(self, bench: Bench, seed: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seed = seed
        self.c = c = gen.corpus(seed)
        self.docs_path = os.path.join(bench.work, "corpus.parquet")
        self.held_path = os.path.join(bench.work, "heldout.parquet")
        ids, texts, sources = zip(*c.docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts),
                                 "source": list(sources)}), self.docs_path)
        hid, htext = zip(*c.heldout)
        pq.write_table(pa.table({"doc_id": pa.array(hid, pa.int64()), "text": list(htext)}),
                       self.held_path)

    def stages(self) -> list[tuple[str, dict]]:
        """The chain one stage at a time, in prepare_training_corpus's
        order, each named by the layer it calls."""
        return [
            ("operators.dedup", dict(boilerplate_lines=True,
                                     boilerplate_min_docs=gen.BOILERPLATE_MIN_DOCS)),
            ("operators.pii", dict(redact=True)),
            ("operators.quality_filters", dict(quality_filter=True)),
            ("operators.dedup", dict(near_dedup=True)),
            ("operators.dedup", dict(decontaminate_against="heldout")),
            ("operators.sampling", dict(token_budget=self.c.token_budget)),
            ("operators.sampling", dict(epoch_shuffle_seed=f"epoch-{self.seed}")),
            ("operators.sampling", dict(pack_tokens=gen.PACK_TOKENS)),
        ]

    def check(self, rows: list[dict], out: Result) -> int:
        """Check the packed output; returns the number of problem docs."""
        c = self.c
        must_drop = c.exact_dups | c.near_dups | c.contaminated | c.low_quality
        bad = check.check_corpus(rows, {d: t for d, t, _ in c.docs},
                                 {d: s for d, _, s in c.docs}, must_drop,
                                 c.token_budget, gen.PACK_TOKENS)
        out.problems.update(bad)
        return sum(len(v) for v in bad.values())


OFF = dict(boilerplate_lines=False, redact=False, quality_filter=False, near_dedup=False)


def corpus_traced(bench: Bench, tracer: trace.Tracer, ci: CorpusInput, out: Result) -> list[dict]:
    """The hygiene chain one stage at a time, each stage cached and
    inside its layer's span, under a top-level ``corpus`` span. Sets the
    quality keep and near-dup drop ratios; returns the packed rows."""
    from unstructured_spark.pipelines import prepare_training_corpus

    spark = bench.spark
    held: list = []
    with tracer.span("corpus"):
        with layer(spark, tracer, "sources"):
            cur = materialize(spark.read.parquet(ci.docs_path), held)
            heldout = materialize(spark.read.parquet(ci.held_path), held)
        n_in = len(ci.c.docs)
        for name, kw in ci.stages():
            kw = {k: (heldout if v == "heldout" else v) for k, v in kw.items()}
            with layer(spark, tracer, name):
                cur = materialize(prepare_training_corpus(cur, **{**OFF, **kw}), held)
                n_out = cur.count()
            if "quality_filter" in kw:
                out.metrics["operators.quality_filters.keep_frac"] = n_out / n_in
                out.metrics["operators.quality_filters.keep_base"] = n_in
            if "near_dedup" in kw:
                out.metrics["operators.dedup.drop_frac"] = 1 - n_out / n_in
                out.metrics["operators.dedup.drop_base"] = n_in
            n_in = n_out
        rows = [r.asDict() for r in cur.collect()]
    for df in held:
        df.unpersist()
    return rows


def corpus_pass(bench: Bench, ci: CorpusInput) -> list[dict]:
    """The whole chain as one prepare_training_corpus call."""
    from unstructured_spark.pipelines import prepare_training_corpus

    spark = bench.spark
    out = prepare_training_corpus(
        spark.read.parquet(ci.docs_path), boilerplate_lines=True,
        boilerplate_min_docs=gen.BOILERPLATE_MIN_DOCS, redact=True, quality_filter=True,
        near_dedup=True, decontaminate_against=spark.read.parquet(ci.held_path),
        token_budget=ci.c.token_budget, epoch_shuffle_seed=f"epoch-{ci.seed}",
        pack_tokens=gen.PACK_TOKENS)
    return [r.asDict() for r in out.collect()]


def corpus(bench: Bench, seed: int, seconds: int, traced: bool) -> Result:
    ci = CorpusInput(bench, seed)
    bench.setup(())
    last: list = []

    def pipeline() -> None:
        last[:] = corpus_pass(bench, ci)

    def traced_pipeline(tracer: trace.Tracer) -> None:
        last[:] = corpus_traced(bench, tracer, ci, out)

    out = Result()
    runs = batch_phase(bench, seconds, traced, pipeline, traced_pipeline, lambda: last, out)
    failed = ci.check(last, out)
    out.attempted = len(ci.c.docs) * len(runs)
    out.failed = failed * len(runs)
    if not traced:
        out.metrics["docs_per_s"] = len(ci.c.docs) / statistics.median(w for w, _ in runs)
    return out


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------


def read_source_log(ckpt: str) -> dict[str, int]:
    """File name -> the micro-batch that read it, from the file source's
    metadata log in the checkpoint (plain and compacted entries)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[e["path"].rsplit("/", 1)[-1]] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> epoch time its commit-log entry was written."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}


def drop_and_wait(query, ckpt: str, staged: str, in_dir: str, docs: list[gen.Doc]) -> list[float]:
    """Move the staged directory holding ``docs`` into the watched one
    and block until the query has committed every micro-batch that holds
    them. One rename makes all of ``docs`` appear at once, so no
    directory listing sees part of a burst. Returns each document's time
    from drop to commit."""
    t_drop = time.time()
    os.rename(staged, os.path.join(in_dir, os.path.basename(staged)))
    # a trigger that listed the directory before the rename may report
    # "no new data" to the first call; the second then waits for the files
    for _ in range(3):
        query.processAllAvailable()
        src, commits = read_source_log(ckpt), commit_times(ckpt)
        if all(d.name in src and src[d.name] in commits for d in docs):
            return [commits[src[d.name]] - t_drop for d in docs]
    raise RuntimeError("dropped stream files were not committed")


def progress_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress
    as (input rows, durationMs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[int, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append((event.progress.numInputRows, dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def stream(bench: Bench, seed: int, seconds: int, traced: bool) -> Result:
    from pyspark.sql import functions as F

    from unstructured_spark.operators.dedup import (
        bloom_fingerprint_index,
        bloom_probe_stream,
        fingerprint_index,
    )
    from unstructured_spark.operators.partition_auto import partition_and_chunk
    from unstructured_spark.operators.text_analysis import fingerprint
    from unstructured_spark.sources.files import read_documents
    from unstructured_spark.streaming.dedup import exact_dedup_stream_against_index
    from unstructured_spark.streaming.pipeline import (
        partition_and_chunk_stream,
        read_document_stream,
        write_elements_stream,
    )

    # a burst takes well over a second, so seconds + 2 bursts never run out
    plan = gen.stream(seed, n_bursts=seconds + 2, burst=STREAM_BURST)
    w = bench.work
    hist_dir, in_dir, stage = (os.path.join(w, d) for d in ("history", "in", "stage"))
    sink, ckpt, idx = (os.path.join(w, d) for d in ("sink", "ckpt", "index"))
    write_files(plan.history, hist_dir)
    # one staged directory per burst; the watched directory holds the
    # dropped burst directories, which the stream reads through a glob
    batches = [("warm", plan.warm)] + [(f"b{i:04d}", b) for i, b in enumerate(plan.bursts)]
    for name, docs in batches:
        write_files(docs, os.path.join(stage, name))
    os.makedirs(in_dir)

    def build_index(spark):
        hist = read_documents(spark, hist_dir)
        chunks = partition_and_chunk(hist, chunking_strategy="by_title",
                                     chunk_kwargs=STREAM_CHUNKING).select("doc_id", "text")
        chunks = chunks.persist()
        bloom_fingerprint_index(chunks, **BLOOM).write.mode("overwrite").parquet(idx + "/bloom")
        fingerprint_index(chunks).write.mode("overwrite").parquet(idx + "/fp")
        texts = {r["text"] for r in chunks.collect()}
        chunks.unpersist()
        return spark.read.parquet(idx + "/bloom"), spark.read.parquet(idx + "/fp"), texts

    bloom, index, history_texts = bench.setup(gen.STREAM_FORMATS, build_index)
    spark = bench.spark
    out = Result()
    setup_metrics(bench, out, traced)

    chunks = partition_and_chunk_stream(read_document_stream(spark, os.path.join(in_dir, "*")),
                                        **STREAM_CHUNKING)
    novel = exact_dedup_stream_against_index(chunks, bloom, index, **BLOOM)
    query = write_elements_stream(novel, sink, ckpt)
    listener = progress_listener() if traced else None
    # traced: the first half of the period untraced, the second half
    # with the progress listener, so the two halves give the overhead
    phases = [(False, seconds / 2), (True, seconds / 2)] if traced else [(False, seconds)]
    lat: dict[bool, list[float]] = {False: [], True: []}
    runs: list[tuple[float, float]] = []
    bursts = iter(batches[1:])
    dropped = list(plan.warm)
    try:
        # untimed warm-up: the query's first micro-batch plans and
        # compiles what every later micro-batch reuses
        drop_and_wait(query, ckpt, os.path.join(stage, "warm"), in_dir, plan.warm)
        with procstat.Sampler() as sampler:
            meter = harness.Meter(sampler)
            for listen, period in phases:
                if listen:
                    spark.streams.addListener(listener)
                deadline = time.perf_counter() + period
                for name, docs in bursts:
                    meter.start()
                    lat[listen] += drop_and_wait(query, ckpt, os.path.join(stage, name),
                                                 in_dir, docs)
                    dropped += docs
                    runs.append(meter.stop())
                    if time.perf_counter() >= deadline:
                        break
    finally:
        query.stop()
    if listener is not None:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
    out.attempted = len(lat[False]) + len(lat[True])

    # output check: the sink equals the batch path over the same files and index
    batch_docs = read_documents(spark, in_dir).withColumn("doc_id", F.col("path"))
    batch_chunks = partition_and_chunk(batch_docs, chunking_strategy="by_title",
                                       chunk_kwargs=STREAM_CHUNKING)
    cols = ["doc_id", "element_index", "type", "text"]
    batch_rows = [tuple(r) for r in exact_dedup_stream_against_index(
        batch_chunks, bloom, index, **BLOOM).select(*cols).collect()]
    sink_rows = [tuple(r) for r in spark.read.parquet(sink).select(*cols).collect()]
    bad = check.check_stream(sink_rows, batch_rows, [d.name for d in dropped], history_texts)
    out.problems.update(bad)
    out.failed = len(bad)

    if not traced:
        out.metrics["latency_p50_s"] = quantile(lat[False], 0.50)
        out.metrics["latency_p95_s"] = quantile(lat[False], 0.95)
        out.extra["latency_samples"] = len(lat[False])
        out.metrics["docs_per_s"] = STREAM_BURST / statistics.median(w for w, _ in runs)
        out.metrics["cpu_s"] = statistics.median(c for _, c in runs)
        out.metrics["peak_rss_mb"] = sampler.peak_mb
        out.extra["sampler_cpu_s_per_run"] = sampler.cpu_s() / len(runs)
        out.extra["jit_cpu_s_per_run"] = meter.jit_s / len(runs)
        out.extra["runs"] = [[round(w, 4), round(c, 2)] for w, c in runs]
        return out
    out.metrics["trace.overhead"] = statistics.median(lat[True]) / statistics.median(lat[False])
    out.metrics["jvm.jit_s"] = meter.jit_s / len(runs)
    ev = [e for e in listener.events if e[0] > 0]

    def med(key: str) -> float:
        return statistics.median(e[1].get(key, 0) for e in ev) / 1e3 if ev else 0.0

    out.metrics["streaming.batches"] = len(ev)
    out.metrics["streaming.batch_s_p50"] = med("triggerExecution")
    out.metrics["streaming.add_batch_s_p50"] = med("addBatch")
    out.metrics["streaming.planning_s_p50"] = med("queryPlanning")
    out.metrics["streaming.rows_per_batch"] = statistics.median(e[0] for e in ev) if ev else 0.0
    out.metrics["streaming.latency_samples"] = len(lat[True])
    gated = bloom_probe_stream(batch_chunks, bloom, **BLOOM)
    probed = gated.count()
    suspects = gated.filter("maybe_seen")
    n_susp = suspects.count()
    hits = suspects.withColumn("_fp", fingerprint(F.col("text"))).join(
        index.select(F.col("fingerprint").alias("_fp")).distinct(), "_fp", "left_semi").count()
    out.metrics["operators.dedup.bloom_suspect_frac"] = n_susp / probed
    out.metrics["operators.dedup.bloom_suspect_base"] = probed
    out.metrics["operators.dedup.bloom_precision"] = hits / n_susp if n_susp else 0.0
    out.metrics["operators.dedup.bloom_precision_base"] = n_susp
    parser_probe(out)
    return out


WORKLOADS = {"ingest": ingest, "corpus": corpus, "stream": stream}
