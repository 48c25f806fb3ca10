"""Property-based tests (hypothesis) for the order-sensitive folds —
invariants that must hold for ANY document, not just fixtures.

Chunking contract (reference chunking/base.py):
- no chunk text exceeds max_characters
- concatenated chunk text preserves every input token in order
  (whitespace may be normalized, separators change)
- Table elements never merge with other elements
- chunk element_index is dense and ordered per doc

Splitter contract: fragments ≤ maxlen, concatenation preserves tokens.
Hierarchy contract: parent_id only references earlier elements.
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from unstructured_spark.operators.chunking import (
    ChunkingOptions,
    _make_batched_fold,
    _split_oversized,
)
from unstructured_spark.operators.metadata import py_finalize_doc
from unstructured_spark.schema import ELEMENT_COLUMNS
import pytest

# long-running suite: deselected from the default fast tier (pytest.ini);
# runs in the round-end full pass with -m "slow or not slow"
pytestmark = pytest.mark.slow

_WORD = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=12,
)
_TEXT = st.lists(_WORD, min_size=1, max_size=40).map(" ".join)
_TYPE = st.sampled_from(
    ["NarrativeText", "Title", "ListItem", "Text", "Table"]
)


def _mk_elements(texts_types):
    # prefix an index token so every element's text is unique — the
    # isolation property compares text identity across elements
    return [
        {
            "doc_id": "d",
            "element_index": i,
            "element_id": f"e{i}",
            "type": t,
            "text": f"u{i} {txt}",
            "page_number": None,
            "category_depth": None,
        }
        for i, (txt, t) in enumerate(texts_types)
    ]


def _run(rows, **kw):
    by_title = kw.pop("by_title", False)
    opts = ChunkingOptions(**kw)
    fold = _make_batched_fold(opts, by_title=by_title)
    frames = list(fold(iter([pd.DataFrame(rows)])))
    if not frames:
        return []
    return pd.concat(frames)[ELEMENT_COLUMNS].to_dict("records")


def _tokens(s: str) -> list[str]:
    return re.split(r"\s+", s.strip()) if s and s.strip() else []


class TestSplitterProperties:
    @given(text=_TEXT, maxlen=st.integers(8, 200))
    @settings(max_examples=60, deadline=None)
    def test_fragments_bounded_and_char_preserving(self, text, maxlen):
        frags = _split_oversized(text, maxlen, 0)
        assert all(len(f) <= maxlen for f in frags)
        # a separator-free word longer than maxlen is hard-cut (reference
        # contract), so compare the whitespace-stripped char stream
        assert "".join("".join(frags).split()) == "".join(text.split())

    @given(text=_TEXT, maxlen=st.integers(20, 100), overlap=st.integers(1, 10))
    @settings(max_examples=40, deadline=None)
    def test_overlap_never_exceeds_maxlen(self, text, maxlen, overlap):
        frags = _split_oversized(text, maxlen, overlap)
        assert all(len(f) <= maxlen for f in frags)


class TestChunkingProperties:
    @given(
        items=st.lists(st.tuples(_TEXT, _TYPE), min_size=1, max_size=25),
        maxchars=st.integers(30, 400),
    )
    @settings(max_examples=40, deadline=None)
    def test_hard_max_respected(self, items, maxchars):
        chunks = _run(_mk_elements(items), max_characters=maxchars)
        assert all(len(c["text"] or "") <= maxchars for c in chunks)

    @given(items=st.lists(st.tuples(_TEXT, _TYPE), min_size=1, max_size=25))
    @settings(max_examples=40, deadline=None)
    def test_tokens_preserved_in_order(self, items):
        rows = _mk_elements(items)
        chunks = _run(rows, max_characters=150)
        got = _tokens(" ".join(c["text"] or "" for c in chunks))
        want = _tokens(" ".join(r["text"] for r in rows))
        assert got == want

    @given(items=st.lists(st.tuples(_TEXT, _TYPE), min_size=1, max_size=25))
    @settings(max_examples=30, deadline=None)
    def test_tables_isolated(self, items):
        rows = _mk_elements(items)
        table_texts = {r["text"] for r in rows if r["type"] == "Table"}
        chunks = _run(rows, max_characters=100000)
        for c in chunks:
            if c["type"] == "Table":
                # a Table chunk's text is exactly one input table's text
                assert c["text"] in table_texts
            elif c["type"] == "CompositeElement":
                # composite never swallows a table's text as a segment
                assert all(
                    t not in table_texts for t in c["text"].split("\n\n")
                )

    @given(
        items=st.lists(st.tuples(_TEXT, _TYPE), min_size=1, max_size=20),
        by_title=st.booleans(),
    )
    @settings(max_examples=30, deadline=None)
    def test_index_dense_and_ordered(self, items, by_title):
        chunks = _run(_mk_elements(items), max_characters=120, by_title=by_title)
        assert [c["element_index"] for c in chunks] == list(range(len(chunks)))


class TestHierarchyProperties:
    @given(
        items=st.lists(
            st.tuples(_TEXT, _TYPE, st.integers(0, 3)), min_size=1, max_size=30
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_parent_precedes_child(self, items):
        rows = [
            {
                "doc_id": "d",
                "element_index": i,
                "type": t,
                "text": txt,
                "page_number": None,
                "category_depth": d,
                "parent_id": None,
                "languages": None,
            }
            for i, (txt, t, d) in enumerate(items)
        ]
        py_finalize_doc(rows, doc_id="d")
        ids_seen: set[str] = set()
        for r in rows:
            if r["parent_id"] is not None:
                assert r["parent_id"] in ids_seen
            ids_seen.add(r["element_id"])

    @given(
        items=st.lists(st.tuples(_TEXT, _TYPE), min_size=1, max_size=15)
    )
    @settings(max_examples=30, deadline=None)
    def test_ids_deterministic(self, items):
        def build():
            rows = [
                {
                    "doc_id": "d", "element_index": i, "type": t, "text": txt,
                    "page_number": None, "category_depth": None,
                    "parent_id": None, "languages": None,
                }
                for i, (txt, t) in enumerate(items)
            ]
            py_finalize_doc(rows, doc_id="d")
            return [r["element_id"] for r in rows]

        assert build() == build()


class TestParserRobustness:
    """Malformed input must never kill an executor task: the auto
    partitioner either yields elements or skips the doc (on_error=
    'skip'); direct partition_bytes raises UnsupportedFormatError or
    returns a list."""

    @given(data=st.binary(min_size=0, max_size=2048))
    @settings(max_examples=40, deadline=None)
    def test_partition_bytes_contained(self, data):
        from unstructured_spark.parsers.dispatch import (
            UnsupportedFormatError,
            partition_bytes,
        )

        try:
            els = partition_bytes(data, filename="fuzz.bin")
        except UnsupportedFormatError:
            return
        except Exception:
            # parser-internal error on garbage is tolerated ONLY if the
            # Spark operator catches it; the operator-level test below
            # pins that. Direct callers see the raw error.
            return
        assert isinstance(els, list)
        for e in els:
            assert isinstance(e, dict) and "type" in e

    @given(
        data=st.binary(min_size=1, max_size=512),
        ext=st.sampled_from(["html", "txt", "docx", "pdf", "csv", "msg"]),
    )
    @settings(max_examples=10, deadline=None)
    def test_operator_skips_bad_docs(self, spark, data, ext):
        from pyspark.sql import functions as F

        from unstructured_spark.operators.partition_auto import (
            partition_documents,
        )

        df = spark.createDataFrame(
            [("good", b"plain text body", "ok.txt"), ("bad", data, f"f.{ext}")],
            "doc_id string, content binary, path string",
        )
        out = partition_documents(df, on_error="skip").collect()
        # the good doc always survives; the fuzzed one may or may not
        assert any(r["doc_id"] == "good" for r in out)


class TestCodecProperties:
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        channels=st.sampled_from([1, 2, 3, 4]),
        data=st.data(),
    )
    @settings(max_examples=20, deadline=None)
    def test_png_round_trip_random_pixels(self, w, h, channels, data):
        from unstructured_spark.parsers.image_codec import decode_png, encode_png

        px = bytearray(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * channels,
                    max_size=w * h * channels,
                )
            )
        )
        w2, h2, c2, px2 = decode_png(encode_png(w, h, channels, px))
        assert (w2, h2, c2) == (w, h, channels) and px2 == px

    @given(data=st.binary(min_size=0, max_size=256))
    @settings(max_examples=30, deadline=None)
    def test_decode_image_never_raises_foreign_errors(self, data):
        from unstructured_spark.parsers.image_codec import (
            ImageDecodeError,
            decode_image,
        )

        # corrupt bytes (incl. valid magics + garbage bodies) must fail
        # with the single codec gate, never zlib/struct/numpy errors
        for prefix in (b"", b"\x89PNG\r\n\x1a\n", b"BM", b"GIF89a", b"\xff\xd8\xff"):
            try:
                decode_image(prefix + data)
            except ImageDecodeError:
                pass

    @given(
        n=st.integers(1, 200),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=15, deadline=None)
    def test_energy_segments_invariants(self, n, rate):
        import numpy as np

        from unstructured_spark.parsers.audio_parser import energy_segments

        rng = np.random.default_rng(n)
        samples = rng.standard_normal(n * 50).astype(np.float32) * 0.1
        segs = energy_segments(samples, rate)
        dur = len(samples) / rate
        for t0, t1, db in segs:
            assert 0 <= t0 < t1 <= dur + 0.05
            assert db <= 0.0  # dB relative to peak


class TestQualityFilterProperties:
    @given(text=st.text(max_size=400))
    @settings(max_examples=30, deadline=None)
    def test_gopher_fractions_bounded(self, spark, text):
        from unstructured_spark.operators.quality_filters import gopher_quality

        df = spark.createDataFrame([("d", text)], "doc_id string, text string")
        r = gopher_quality(df).first()
        for c in (
            "alpha_word_frac", "bullet_line_frac", "ellipsis_line_frac",
            "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
            "dup_para_char_frac",
        ):
            assert 0.0 <= r[c] <= 1.0, (c, r[c], repr(text))
        assert r["word_count"] >= 0 and r["mean_word_len"] >= 0.0


class TestPackingProperties:
    def test_token_conservation_and_contiguity(self, spark):
        """pack_sequences is a bijection on token positions: ranges
        cover every document token exactly once, and global positions
        (seq_id·L + seq_token_start) reconstruct the cumsum order."""
        import random

        from unstructured_spark.operators.sampling import pack_sequences

        rng = random.Random(7)
        sizes = [rng.randrange(1, 40) for _ in range(60)]
        rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pack_sequences(df, 32, block_size=16).collect()
        per_doc = {}
        for r in out:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert set(per_doc) == set(range(60))
        for i, n in enumerate(sizes):
            spans = sorted(
                (r["doc_token_start"], r["doc_token_end"]) for r in per_doc[i]
            )
            # contiguous, non-overlapping, covering [0, n)
            assert spans[0][0] == 0 and spans[-1][1] == n
            for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
                assert b1 == a2
        total = sum(r["doc_token_end"] - r["doc_token_start"] for r in out)
        assert total == sum(sizes)
        # every sequence except the last is exactly full
        seq_fill = {}
        for r in out:
            seq_fill[r["seq_id"]] = seq_fill.get(r["seq_id"], 0) + (
                r["doc_token_end"] - r["doc_token_start"]
            )
        last = max(seq_fill)
        assert all(v == 32 for s, v in seq_fill.items() if s != last)


class TestFunnelStreamFold:
    """Streaming funnel state invariant: folding ANY partition of an
    event sequence through _funnel_fold yields the same final chain as
    one batch — i.e. the deadline pruning never discards a candidate
    that a later (possibly earlier-timestamped) step-1 event could
    re-activate."""

    STEPS = ["s1", "s2", "s3"]

    @staticmethod
    def _brute_chain(events, w_us):
        # direct transcription of the batch conditional-min semantics
        s1 = [u for u, e in events if e == "s1"]
        t1 = min(s1) if s1 else None
        ts = [t1]
        prev, deadline = t1, (None if t1 is None else t1 + w_us)
        for step in ("s2", "s3"):
            nxt = None
            if prev is not None:
                ok = [u for u, e in events if e == step and prev <= u <= deadline]
                nxt = min(ok) if ok else None
            ts.append(nxt)
            prev = nxt
        return ts

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=200),
                st.sampled_from(["s1", "s2", "s3", "other"]),
            ),
            max_size=30,
        ),
        st.data(),
        st.integers(min_value=1, max_value=100),
    )
    @settings(max_examples=300, deadline=None)
    def test_partitioned_fold_equals_batch(self, events, data, w_us):
        from unstructured_spark.streaming.events import (
            _funnel_chain,
            _funnel_fold,
        )

        # split events into random contiguous batches
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(events)),
                    max_size=4,
                )
            )
        )
        bounds = [0] + cuts + [len(events)]
        state = None
        for a, b in zip(bounds, bounds[1:]):
            state = _funnel_fold(state, events[a:b], self.STEPS, w_us)
        if state is None:
            state = _funnel_fold(None, [], self.STEPS, w_us)
        got = _funnel_chain(state, w_us)
        assert got == self._brute_chain(events, w_us)

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),
                st.sampled_from(["s1", "s2"]),
            ),
            max_size=40,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_state_is_deadline_bounded(self, events):
        from unstructured_spark.streaming.events import _funnel_fold

        w_us = 10
        state = _funnel_fold(None, events, ["s1", "s2"], w_us)
        t1, c2 = state
        if t1 is not None:
            assert all(u <= t1 + w_us for u in c2)
