"""partition() — the auto-routing document partitioner as a Spark
operator (reference ``partition/auto.py:30-300``; SURVEY §3.1).

Lifecycle: documents DF (doc_id, path, content, content_type) →
``mapInPandas`` [detect filetype → per-format parse → ordered element
rows] → metadata finalization (hash ids, languages, hierarchy).

Scale design (SURVEY §4):
- one input row → N output rows entirely executor-side; no shuffle in
  the parse stage. Parallelism = input splits, so a batch input with
  fewer splits than ``num_partitions`` (default: the cluster's cores)
  is rebalanced first (``skew.spread``; cheap: rows are (path, bytes)).
- detection reads only the head bytes; parsers are lazily imported per
  executor process (the reference's partitioner cache trick).
- the parse ``mapInPandas`` goes through ``operators.pymap``, so a
  ``mapInPandas`` operator applied directly to its output
  (``embed_elements``) is composed into the parse function: one Python
  task and no Arrow round-trip between them. The exception is a cached
  parse output, which is read from its cache, not re-parsed.
- at 100 TB, content should be paths into object storage with
  executor-side opens — pass ``content_col=None`` and a ``path_col``;
  inlined bytes are capped by spark.sql.sources.binaryFile.maxLength.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from unstructured_spark.operators.pymap import map_in_pandas
from unstructured_spark.operators.skew import spread
from unstructured_spark.schema import (
    ELEMENT_COLUMNS,
    ELEMENT_SCHEMA,
    empty_element_row,
)


def partition_documents(
    df: DataFrame,
    *,
    doc_id: str = "doc_id",
    content: str = "content",
    path: str | None = "path",
    content_type: str | None = "content_type",
    on_error: str = "skip",  # 'skip' | 'fail' | 'capture'
    apply_metadata: bool = True,
    num_partitions: int | None = None,
    per_doc_transform=None,
    **parser_kwargs,
) -> DataFrame:
    """Partition a documents DataFrame into the canonical element schema.

    Metadata finalization (hash ids, doc language, hierarchy) happens
    INSIDE the parse UDF: a document is fully contained in one input
    row, so these are per-row pure functions — zero shuffles for the
    whole partition+metadata pipeline (the separate DataFrame operators
    in ``operators.metadata`` each cost an exchange and exist for
    element tables read back from storage).

    Extra ``parser_kwargs`` flow through ``partition_bytes`` to the
    per-format partitioners (e.g. ``strategy=``, ``extract_forms=``,
    ``extract_images=`` for PDFs).

    ``per_doc_transform`` (rows → rows over the finalized element dicts
    of ONE document, schema-preserving) runs inside the same UDF pass —
    the hook ``partition_and_chunk`` and ``partition_and_chunk_stream``
    use to run the chunk fold without a second exchange + Arrow
    round-trip (a document is fully contained in one input row, so any
    per-doc fold is a free rider on the parse stage). Capture-mode
    Error rows never pass through it.
    """
    cols = [doc_id, content]
    if path and path in df.columns:
        cols.append(path)
    if content_type and content_type in df.columns:
        cols.append(content_type)
    narrowed = spread(df.select(*cols), num_partitions)
    path_col = path if path in narrowed.columns else None
    ct_col = content_type if content_type in narrowed.columns else None

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # executor-side import keeps parser modules out of the driver path
        from unstructured_spark.operators.metadata import py_finalize_doc
        from unstructured_spark.parsers import classify
        from unstructured_spark.parsers.dispatch import (
            UnsupportedFormatError,
            partition_bytes,
        )

        for pdf in batches:
            rows: list[dict] = []
            # freeze UNSTRUCTURED_* env overrides once per Arrow batch:
            # the classifier predicates otherwise re-read + re-parse env
            # per ELEMENT inside the parsers
            with classify.env_snapshot():
                for rec in pdf.itertuples(index=False):
                    rec_d = rec._asdict()
                    raw = rec_d[content]
                    fname = rec_d.get(path_col) if path_col else None
                    ctype = rec_d.get(ct_col) if ct_col else None
                    try:
                        els = partition_bytes(
                            raw, filename=fname, content_type=ctype,
                            **parser_kwargs,
                        )
                    except (RecursionError, MemoryError):
                        # executor resource exhaustion, never "bad input"
                        raise
                    except (UnsupportedFormatError, ValueError) as e:
                        # the dispatch contract: list-or-ValueError
                        # (MalformedDocumentError is a ValueError) for bad
                        # INPUT; parser BUGS (TypeError, AttributeError...)
                        # propagate even under on_error='skip' — skipping
                        # them would silently bury a broken parser as
                        # "malformed documents"
                        if on_error == "fail":
                            raise
                        if on_error == "capture":
                            # auditable failure row: at corpus scale the
                            # drop rate and its causes must be queryable,
                            # not silently vanished
                            row = empty_element_row(
                                str(rec_d[doc_id]), 0, "Error",
                                f"{type(e).__name__}: {e}",
                            )
                            row["filename"] = (
                                (fname or "").rsplit("/", 1)[-1] or None
                            )
                            rows.append(row)
                        continue
                    did = str(rec_d[doc_id])
                    doc_rows: list[dict] = []
                    for idx, el in enumerate(els):
                        row = {c: None for c in ELEMENT_COLUMNS}
                        row.update(
                            {k: v for k, v in el.items() if k in row}
                        )
                        row["doc_id"] = did
                        row["element_index"] = idx
                        row["text"] = el.get("text", "")
                        row["type"] = el.get("type", "Text")
                        doc_rows.append(row)
                    if apply_metadata and doc_rows:
                        base = (fname or "").rsplit("/", 1)[-1] or None
                        py_finalize_doc(doc_rows, doc_id=did, filename=base)
                    if per_doc_transform is not None and doc_rows:
                        doc_rows = per_doc_transform(doc_rows)
                    rows.extend(doc_rows)
            yield pd.DataFrame(rows, columns=ELEMENT_COLUMNS)

    return map_in_pandas(narrowed, parse_batches, ELEMENT_SCHEMA)


def _chunk_fold(by_title: bool, chunk_kwargs: dict | None = None):
    """The built-in per-document chunk fold as a ``per_doc_transform``:
    the same ``_chunk_doc`` the ``chunk`` operator runs over each
    document's ordered rows, so folding inside the parse UDF gives the
    operator path's rows without its doc_id exchange and sort."""
    from unstructured_spark.operators.chunking import ChunkingOptions, _chunk_doc

    return partial(
        _chunk_doc, opts=ChunkingOptions(**(chunk_kwargs or {})), by_title=by_title
    )


def partition_and_chunk(
    df,
    *,
    chunking_strategy: str | None = None,
    chunk_kwargs: dict | None = None,
    **partition_kwargs,
):
    """The reference's one-call flow ``partition(file,
    chunking_strategy=...)`` (auto.py:30-300): partition to elements,
    then dispatch to a chunking strategy.

    The built-in strategies run their chunk fold INSIDE the parse UDF
    (:func:`_chunk_fold`): a document's elements never leave the worker
    between partition and chunk, so the pipeline is a single
    shuffle-free stage with one Arrow round-trip. Plug-in strategies
    (registered via ``register_chunking_strategy``) operate on
    DataFrames and take the ``partition_documents`` → ``chunk`` chain.
    """
    from unstructured_spark.operators.chunking import (
        _STRATEGIES,
        chunk,
        chunk_by_title,
        chunk_elements,
    )

    if chunking_strategy is None:
        return partition_documents(df, **partition_kwargs)
    # fold in the UDF ONLY while the registered strategy is still the
    # built-in function: a caller who re-registers 'basic'/'by_title'
    # via register_chunking_strategy must get their plug-in, not a
    # silent built-in fold
    builtin = {"basic": chunk_elements, "by_title": chunk_by_title}
    if (
        chunking_strategy in builtin
        and _STRATEGIES.get(chunking_strategy) is builtin[chunking_strategy]
    ):
        fold = _chunk_fold(chunking_strategy == "by_title", chunk_kwargs)
        return partition_documents(df, per_doc_transform=fold, **partition_kwargs)
    els = partition_documents(df, **partition_kwargs)
    return chunk(els, strategy=chunking_strategy, **(chunk_kwargs or {}))
