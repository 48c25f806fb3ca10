"""Self-tests of the benchmark: generator determinism, event-log metric
extraction on a recorded log, span self time, and the output checkers
rejecting corrupted outputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import check, gen, procstat, trace

DATA = os.path.join(os.path.dirname(__file__), "data")


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_ingest_same_seed_same_bytes():
    a, b = gen.ingest_docs(3), gen.ingest_docs(3)
    assert [(d.name, d.data, d.expect) for d in a] == [(d.name, d.data, d.expect) for d in b]


def test_ingest_seed_changes_content_not_amounts():
    a, b = gen.ingest_docs(3), gen.ingest_docs(4)
    assert {d.data for d in a} != {d.data for d in b}
    for fmt in gen.FORMATS:
        assert (sum(d.fmt == fmt for d in a) == sum(d.fmt == fmt for d in b)
                == gen.INGEST_PER_FORMAT)
    assert sum(d.expect == "error" for d in a) == sum(d.expect == "error" for d in b) == len(
        gen.CORRUPTIBLE) * gen.INGEST_CORRUPT_PER_FORMAT


def test_ingest_expected_outcomes_hold_for_the_parsers():
    from unstructured_spark.parsers.dispatch import partition_bytes

    for d in gen.ingest_docs(5):
        if d.expect == "error":
            with pytest.raises(ValueError):
                partition_bytes(d.data, filename=d.name)
        else:
            assert partition_bytes(d.data, filename=d.name)


def test_corpus_deterministic_and_seeded():
    a, b, c = gen.corpus(1), gen.corpus(1), gen.corpus(2)
    assert a.docs == b.docs and a.heldout == b.heldout
    assert a.docs != c.docs
    assert len(a.exact_dups) == len(c.exact_dups) and len(a.near_dups) == len(c.near_dups)
    texts = {d: t for d, t, _ in a.docs}
    originals = [t for d, t in texts.items() if d not in a.exact_dups]
    assert all(texts[d] in originals for d in a.exact_dups)


def test_stream_deterministic_and_seeded():
    a, b, c = gen.stream(1, 3, 4), gen.stream(1, 3, 4), gen.stream(2, 3, 4)
    flat = lambda p: [d.data for burst in p.bursts for d in burst]  # noqa: E731
    assert flat(a) == flat(b) and [d.data for d in a.history] == [d.data for d in b.history]
    assert flat(a) != flat(c)
    assert [len(burst) for burst in a.bursts] == [4, 4, 4]


def test_zip_members_have_fixed_timestamps():
    rng = gen._rng("t", 0)
    secs = gen.sections(rng, 2)
    assert gen.build_docx(secs, gen._rng("x", 1)) == gen.build_docx(secs, gen._rng("x", 1))


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    t = trace.Tracer("r")
    t.spans = [trace.Span("root", 0.0, 10.0, None, "r"),
               trace.Span("a", 1.0, 4.0, 0, "r"),
               trace.Span("b", 3.0, 6.0, 0, "r"),   # overlaps a
               trace.Span("c", 8.0, 9.0, 0, "r"),
               trace.Span("a.child", 1.5, 2.0, 1, "r")]
    assert t.self_s(0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert t.self_s(1) == pytest.approx(2.5)
    agg = t.by_name()
    assert agg["a"]["wall_s"] == pytest.approx(3.0) and agg["a"]["self_s"] == pytest.approx(2.5)


def test_tracer_nests_spans():
    t = trace.Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.self_s(0) <= t.wall_s(0)


def test_group_metrics_on_a_recorded_event_log():
    """The log was recorded from a local[2] session running a
    mapInPandas job in group 'py' and a shuffle job in group 'shuf'."""
    groups = trace.group_metrics(trace.read_events(os.path.join(DATA, "eventlog")))
    assert set(groups) == {"py", "shuf"}
    py, shuf = groups["py"], groups["shuf"]
    assert py["jobs"] == 1 and py["tasks"] == 4
    assert py["py_s"] > 0 and py["arrow_mb"] > 0 and py["shuffle_mb"] == 0
    assert shuf["jobs"] >= 1 and shuf["shuffle_mb"] > 0 and shuf["py_s"] == 0
    assert py["task_skew"] >= 1.0 and py["cpu_s"] > 0


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _ingest_rows():
    expected = {"a.md": [("CompositeElement", "alpha"), ("CompositeElement", "beta")],
                "bad.docx": None}
    rows = [
        {"filename": "a.md", "doc_id": "d1", "element_index": 0, "type": "CompositeElement",
         "text": "alpha", "embeddings": [0.0] * 4},
        {"filename": "a.md", "doc_id": "d1", "element_index": 1, "type": "CompositeElement",
         "text": "beta", "embeddings": [0.0] * 4},
        {"filename": "bad.docx", "doc_id": "d2", "element_index": 0, "type": "Error",
         "text": "MalformedDocumentError: x", "embeddings": [0.0] * 4},
    ]
    return rows, expected


def test_check_ingest_accepts_the_right_output():
    rows, expected = _ingest_rows()
    assert check.check_ingest(rows, expected, 4) == {}


@pytest.mark.parametrize("corrupt, problem", [
    (lambda rows: rows[1].update(text="gamma"), "a.md"),
    (lambda rows: rows.pop(0), "a.md"),
    (lambda rows: rows[2].update(type="Title"), "bad.docx"),
    (lambda rows: rows[1].update(doc_id="d9"), "a.md"),
    (lambda rows: rows[0].update(embeddings=None), "a.md"),
    (lambda rows: rows.append(dict(rows[2], element_index=1)), "bad.docx"),
])
def test_check_ingest_rejects_a_corrupted_output(corrupt, problem):
    rows, expected = _ingest_rows()
    corrupt(rows)
    assert problem in check.check_ingest(rows, expected, 4)


def _corpus():
    texts = {1: "one text", 2: "two text", 3: "one text", 4: "near two text"}
    sources = {1: "web", 2: "web", 3: "news", 4: "news"}
    placements = [
        {"doc_id": 1, "seq_id": 0, "doc_token_start": 0, "doc_token_end": 2, "seq_token_start": 0},
        {"doc_id": 2, "seq_id": 0, "doc_token_start": 0, "doc_token_end": 2, "seq_token_start": 2},
    ]
    return placements, texts, sources


def test_check_corpus_accepts_the_right_output():
    placements, texts, sources = _corpus()
    assert check.check_corpus(placements, texts, sources, {3, 4}, 10, 4) == {}


def test_check_corpus_rejects_a_corrupted_output():
    placements, texts, sources = _corpus()
    dup = {"doc_id": 3, "seq_id": 1, "doc_token_start": 0, "doc_token_end": 2,
           "seq_token_start": 0}
    bad = check.check_corpus(placements + [dup], texts, sources, {3, 4}, 10, 4)
    assert "two kept docs share an md5" in bad
    assert "planted duplicate, contaminated or low-quality doc kept" in bad
    assert "source over its token budget" in check.check_corpus(
        placements, texts, sources, {3, 4}, 3, 4)
    assert "packed sequence over pack_tokens" in check.check_corpus(
        placements, texts, sources, {3, 4}, 10, 3)


def test_check_stream():
    sink = [("f1", 0, "CompositeElement", "new"), ("f2", 0, "CompositeElement", "also new")]
    assert check.check_stream(sink, list(reversed(sink)), ["f1", "f2"], {"old"}) == {}
    assert "*" in check.check_stream(sink[:1], sink, ["f1"], set())
    assert "f2" in check.check_stream(sink[:1], sink[:1], ["f1", "f2"], set())
    leaked = sink + [("f1", 1, "CompositeElement", "old")]
    assert "f1" in check.check_stream(leaked, leaked, ["f1", "f2"], {"old"})


def test_digest_ignores_order_only():
    assert check.digest([(1, "a"), (2, "b")]) == check.digest([(2, "b"), (1, "a")])
    assert check.digest([(1, "a")]) != check.digest([(1, "b")])


# ---------------------------------------------------------------------------
# /proc sampler
# ---------------------------------------------------------------------------


def test_tree_cpu_counts_this_process():
    before, _ = procstat.cpu_s()
    sum(i * i for i in range(2_000_000))
    after, jit = procstat.cpu_s()
    assert after > before
    assert jit == 0.0  # no JVM in this process tree
    assert os.getpid() in procstat.tree(os.getpid())


def test_sampler_measures_its_own_thread_only():
    with procstat.Sampler() as sampler:
        sum(i * i for i in range(2_000_000))  # main-thread work the sampler must not own
    # no pyspark daemon in this process tree, so nothing to sample
    assert sampler.peak_mb == 0.0
    assert 0.0 <= sampler.cpu_s() < 0.05


# ---------------------------------------------------------------------------
# BENCHMARK.json
# ---------------------------------------------------------------------------


def test_benchmark_json_lists_exactly_the_metrics_the_runs_print():
    import json

    from perfbench import run, workloads

    with open(os.path.join(os.path.dirname(DATA), "..", "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
