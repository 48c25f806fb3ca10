"""Default-tier checks that the stream dedup stages run ONE pass per
micro-batch: the exact dedup and the near-dup-vs-index stage each keep
a single copy of everything upstream of them (a streaming plan cannot
cache, so a fork re-reads and re-parses every file), and the streaming
Bloom probe answers exactly like the batch probe."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tests import fixtures as fx
from unstructured_spark.operators.dedup import (
    bloom_fingerprint_index,
    bloom_probe_new,
    bloom_probe_stream,
    exact_dedup_against_index,
    fingerprint_index,
    minhash_band_index,
)
from unstructured_spark.operators.partition_auto import partition_and_chunk
from unstructured_spark.streaming import (
    partition_and_chunk_stream,
    read_document_stream,
    write_elements_stream,
)
from unstructured_spark.streaming.dedup import (
    exact_dedup_stream_against_index,
    near_dedup_stream_against_index,
)

COLS = ["doc_id", "element_index", "type", "text"]
CHUNK_KW = {"max_characters": 200, "combine_text_under_n_chars": 50}
BLOOM = {"m_bits": 1 << 14, "k": 4}


def _batch_chunks(spark, path):
    docs = (
        spark.read.format("binaryFile")
        .load(path)
        .selectExpr("path as doc_id", "path", "content")
    )
    return partition_and_chunk(
        docs, chunking_strategy="by_title", chunk_kwargs=CHUNK_KW
    )


def test_stream_exact_dedup_is_one_pass_and_equals_anti_join(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.txt").write_text(fx.FAKE_TEXT)
    (in_dir / "b.html").write_text(fx.FAKE_HTML)
    (in_dir / "c.md").write_text(fx.FAKE_MD)
    (in_dir / "d.eml").write_text(fx.FAKE_EMAIL)
    # the history holds one fixture's chunks, so its copy in the stream
    # must be dropped and the other three must pass
    hist_dir = tmp_path / "hist"
    hist_dir.mkdir()
    (hist_dir / "a.txt").write_text(fx.FAKE_TEXT)
    hist = _batch_chunks(spark, str(hist_dir)).select("doc_id", "text")
    # persisted indexes, as a stream reads them
    bloom_fingerprint_index(hist, **BLOOM).write.parquet(str(tmp_path / "bloom"))
    fingerprint_index(hist).write.parquet(str(tmp_path / "fp"))
    bloom = spark.read.parquet(str(tmp_path / "bloom"))
    index = spark.read.parquet(str(tmp_path / "fp"))

    chunks = partition_and_chunk_stream(
        read_document_stream(spark, str(in_dir)), **CHUNK_KW
    )
    novel = exact_dedup_stream_against_index(chunks, bloom, index, **BLOOM)
    q = write_elements_stream(
        novel, str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert q.exception() is None
    plan = q._jsq.streamingQuery().lastExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("binaryFile") == 1, plan
    assert "Aggregate" not in plan, plan

    batch_chunks = _batch_chunks(spark, str(in_dir))
    expected = sorted(
        map(
            tuple,
            exact_dedup_against_index(batch_chunks, index, intra_batch=False)
            .select(*COLS)
            .collect(),
        )
    )
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "out")).select(*COLS).collect())
    )
    assert got == expected
    assert len(got) < batch_chunks.count()
    assert len({r[0] for r in got}) == 3


def test_stream_probe_matches_batch_on_tricky_inputs(spark):
    # unicode NBSP (Java \s is ASCII-only), tab and multi-space runs,
    # NULL text, case, and a leading control char SQL trim keeps
    hist = spark.createDataFrame(
        [(0, "shared  body"), (2, "only\tin history"), (4, "nb\u00a0sp")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "shared  body"),
            (3, "never seen anywhere"),
            (5, None),
            (7, "nb\u00a0sp"),
            (8, "nb sp"),  # NBSP is not Java \s: a different fingerprint
            (9, "SHARED \t BODY"),
            (6, "\x01shared  body"),
        ],
        "doc_id long, text string",
    )
    bloom = bloom_fingerprint_index(hist, **BLOOM)
    batch = sorted(
        (r["doc_id"], r["maybe_seen"])
        for r in bloom_probe_new(new, bloom, **BLOOM).collect()
    )
    gated = bloom_probe_stream(new, bloom, **BLOOM)
    assert gated.columns == new.columns + ["maybe_seen"]
    stream_form = sorted((r["doc_id"], r["maybe_seen"]) for r in gated.collect())
    assert stream_form == batch
    verdicts = dict(stream_form)
    assert verdicts[1] and verdicts[7] and verdicts[9]
    assert not (verdicts[3] or verdicts[5] or verdicts[6] or verdicts[8])


def test_stream_probe_keeps_the_filter_out_of_the_plan_text(spark):
    # the filter rides as a broadcast relation: a 2^20-bit table
    # inlined as a literal would add ~1 MB to every micro-batch's
    # plan description in the SQL UI store
    hist = spark.createDataFrame([(0, "shared body")], "doc_id long, text string")
    gated = bloom_probe_stream(hist, bloom_fingerprint_index(hist))
    assert len(gated._jdf.queryExecution().toString()) < 100_000


def test_near_dedup_against_index_keeps_one_upstream_map_node(spark, tmp_path):
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet forest for a long while today")
    index = minhash_band_index(
        spark.createDataFrame([(2, base)], "doc_id long, text string")
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = [
        ("a", base),
        ("b", "completely different content about spark physical plans"),
        ("c", "hi"),  # too short to shingle: always novel
    ]
    with open(in_dir / "b1.json", "w") as f:
        for i, (d, t) in enumerate(rows):
            f.write(json.dumps(
                {"ingest_ts": f"2024-01-01T00:0{i}:00", "doc_id": d, "text": t}
            ) + "\n")
    schema = "ingest_ts timestamp, doc_id string, text string"
    stream = spark.readStream.schema(schema).json(str(in_dir)).mapInPandas(
        lambda batches: batches, schema
    )
    out = near_dedup_stream_against_index(stream, index, emit="all")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("MapInPandas") == 1, plan

    q = (
        out.writeStream.format("memory").queryName("near_single_pass")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["max_est_jaccard"], r["is_novel"])
        for r in spark.sql("select * from near_single_pass").collect()
    }
    assert got == {"a": (1.0, False), "b": (0.0, True), "c": (0.0, True)}
