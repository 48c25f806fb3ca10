"""Default-tier streaming check: an availableNow drain of
``partition_and_chunk_stream`` yields the rows of batch
``partition_and_chunk(..., chunking_strategy="by_title")``, and the
stream parses and chunks in ONE Python map node per micro-batch."""

from __future__ import annotations

from tests import fixtures as fx
from unstructured_spark.operators.partition_auto import partition_and_chunk
from unstructured_spark.streaming import (
    partition_and_chunk_stream,
    read_document_stream,
    write_elements_stream,
)

COLS = ["doc_id", "element_index", "type", "text"]
CHUNK_KW = {"max_characters": 200, "combine_text_under_n_chars": 50}


def _write_inputs(in_dir):
    in_dir.mkdir()
    (in_dir / "a.txt").write_text(fx.FAKE_TEXT)
    (in_dir / "b.html").write_text(fx.FAKE_HTML)
    (in_dir / "c.md").write_text(fx.FAKE_MD)
    (in_dir / "d.eml").write_text(fx.FAKE_EMAIL)


def test_stream_drain_matches_batch_with_one_python_node(spark, tmp_path):
    in_dir = tmp_path / "in"
    _write_inputs(in_dir)

    chunks = partition_and_chunk_stream(
        read_document_stream(spark, str(in_dir)), **CHUNK_KW
    )
    plan = chunks._jdf.queryExecution().analyzed().toString()
    assert plan.count("MapInPandas") == 1, plan

    q = write_elements_stream(
        chunks, str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert q.exception() is None
    streamed = spark.read.parquet(str(tmp_path / "out")).select(*COLS)

    docs = (
        spark.read.format("binaryFile")
        .load(str(in_dir))
        .selectExpr("path as doc_id", "path", "content")
    )
    batch = partition_and_chunk(
        docs, chunking_strategy="by_title", chunk_kwargs=CHUNK_KW
    ).select(*COLS)

    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert len({r[0] for r in s_rows}) == 4
    assert s_rows == b_rows
