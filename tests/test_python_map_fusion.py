"""Default-tier check of the one-Python-pass ingest: ``embed_elements``
over an un-cached ``partition_and_chunk`` output runs inside the parse
``mapInPandas`` (so does ``rag_ingest_pipeline``), gives the rows of
embedding a cached parse output, and leaves a cached parse output to be
read from its cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests import fixtures as fx
from unstructured_spark.operators.embed import HashingEncoder, embed_elements
from unstructured_spark.operators.partition_auto import partition_and_chunk
from unstructured_spark.pipelines import rag_ingest_pipeline

CHUNK_KW = {"max_characters": 200, "combine_text_under_n_chars": 50}


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    in_dir = tmp_path_factory.mktemp("fusion_in")
    (in_dir / "a.txt").write_text(fx.FAKE_TEXT)
    (in_dir / "b.html").write_text(fx.FAKE_HTML)
    (in_dir / "c.md").write_text(fx.FAKE_MD)
    (in_dir / "d.eml").write_text(fx.FAKE_EMAIL)
    (in_dir / "e.docx").write_bytes(b"PK\x03\x04 not a zip archive")
    return (
        spark.read.format("binaryFile")
        .load(str(in_dir))
        .selectExpr("path as doc_id", "path", "content")
    )


def _parse(docs):
    return partition_and_chunk(
        docs, chunking_strategy="by_title", chunk_kwargs=CHUNK_KW, on_error="capture"
    )


def _nodes(df, name):
    """Count ``name`` nodes in the optimized plan's tree. A cached
    subtree is one ``InMemoryRelation`` leaf: its plan is not a child."""

    def walk(plan):
        kids = plan.children()
        return (plan.nodeName() == name) + sum(
            walk(kids.apply(i)) for i in range(kids.size())
        )

    return walk(df._jdf.queryExecution().optimizedPlan())


def _rows(df):
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def _unfused(docs, build):
    """``build`` over a cached, materialized parse output."""
    parsed = _parse(docs).cache()
    try:
        parsed.count()
        out = build(parsed)
        assert _nodes(out, "InMemoryRelation") == 1
        return _rows(out)
    finally:
        parsed.unpersist()


def test_embed_runs_in_the_parse_map(docs):
    out = embed_elements(_parse(docs), HashingEncoder)
    assert _nodes(out, "MapInPandas") == 1
    assert out.columns[-1] == "embeddings"


def test_rag_ingest_is_one_python_pass(docs):
    assert _nodes(rag_ingest_pipeline(docs), "MapInPandas") == 1


def test_fused_rows_equal_embed_over_cached_parse(docs):
    fused = _rows(embed_elements(_parse(docs), HashingEncoder))
    assert fused == _unfused(docs, lambda p: embed_elements(p, HashingEncoder))
    assert sum('"type":"Error"' in r for r in fused) == 1
    assert len(fused) > 5


def test_cached_parse_output_is_read_not_reparsed(docs):
    parsed = _parse(docs).cache()
    try:
        parsed.count()
        out = embed_elements(parsed, HashingEncoder)
        assert _nodes(out, "InMemoryRelation") == 1
        assert _nodes(out, "MapInPandas") == 1
        assert _nodes(out, "LogicalRelation") == 0
        assert out.count() == parsed.count()
    finally:
        parsed.unpersist()


def test_chained_embeds_fuse_and_match(docs):
    def chain(df):
        e1 = embed_elements(df, HashingEncoder, out_col="e1")
        return embed_elements(e1, HashingEncoder, text_col="type", out_col="e2")

    fused_df = chain(_parse(docs))
    assert _nodes(fused_df, "MapInPandas") == 1
    assert fused_df.columns[-2:] == ["e1", "e2"]
    assert _rows(fused_df) == _unfused(docs, chain)
