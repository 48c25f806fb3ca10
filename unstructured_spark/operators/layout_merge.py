"""Model-free hi_res layout operators: box dedup, inner-element
cleanup, embedded-text/OCR aggregation, and the inferred↔extracted
page merge.

Spark-first re-expression of the reference's numpy box math
(behavioral contracts: ``unstructured/partition/pdf_image/
pdfminer_processing.py:250-947`` and ``ocr.py:373-491``).  The layout
*model* itself cannot run here, but everything downstream of it is
pure geometry over a detections table, so these operators take an
injectable **boxes DataFrame**:

    doc_id STRING, page_number INT, box_id INT  (ordinal within its
    layout), source STRING ('inferred' | 'pdfminer' | 'ocr'),
    kind STRING (element-type tag), x1/y1/x2/y2 DOUBLE,
    text STRING, is_extracted STRING ('true'|'partial'|'false'|NULL)

Physical design: every pairwise predicate (IoU, almost-subregion) is a
native per-page equi-join — ``(doc_id, page_number)`` is the join key,
the geometric predicate rides along — so Catalyst shuffles once on the
page key and the quadratic term is bounded by boxes-per-page, never
corpus size.  Only the 5-rule merge (``merge_inferred_with_extracted``)
runs in Python (``mapInPandas`` over page-sorted partitions): it
iterates to a fixpoint with in-place box expansion (reference
``:340-375``), which is inherently sequential *within* a page; the
parallel unit stays the page, matching the reference's own per-page
loop. ``parsers.pdf_raster`` runs the same per-page rules
(:func:`_merge_page_cols`) on one page of a hi_res PDF.

Numeric conventions follow the reference exactly: +1 pixel-inclusive
intersection/area math with EPSILON_AREA=0.01 for the pairwise masks
(``pdfminer_processing.py:38,677-748``), but *plain* (no +1) areas for
the aggregated text-coverage IoU (``:1358-1405``).  Thresholds:
LAYOUT_SAME_REGION=0.75, LAYOUT_SUBREGION=0.75, FULL_PAGE_REGION=0.99
(public unstructured-inference config defaults),
EMBEDDED_TEXT_AGGREGATION_SUBREGION=0.99, TEXT_COVERAGE=0.25,
OCR_LAYOUT_SUBREGION=0.5 (``partition/utils/config.py:186-288``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPSILON_AREA = 0.01
LAYOUT_SAME_REGION_THRESHOLD = 0.75
LAYOUT_SUBREGION_THRESHOLD = 0.75
FULL_PAGE_REGION_THRESHOLD = 0.99
EMBEDDED_TEXT_AGGREGATION_SUBREGION_THRESHOLD = 0.99
TEXT_COVERAGE_THRESHOLD = 0.25
OCR_LAYOUT_SUBREGION_THRESHOLD = 0.5

# extracted-layout classes treated as images (pdfminer ImageTextRegion,
# reference pdfminer_processing.py:777-785)
IMAGE_KINDS = ("Image", "Picture")
# inferred classes excluded from the rule-3 text merge (reference
# _inferred_is_text, pdfminer_processing.py:122-136)
NON_TEXT_INFERRED_KINDS = ("Figure", "Image", "PageBreak", "Table")

BOX_COLS = [
    "doc_id", "page_number", "box_id", "source", "kind",
    "x1", "y1", "x2", "y2", "text", "is_extracted",
]
BOX_SCHEMA = (
    "doc_id string, page_number int, box_id int, source string, kind string, "
    "x1 double, y1 double, x2 double, y2 double, text string, is_extracted string"
)


# ---------------------------------------------------------------------------
# Native column-expression geometry (whole-stage-codegen'd, no UDFs)
# ---------------------------------------------------------------------------


def _px_area(p: str) -> Column:
    """Pixel-inclusive box area of prefixed cols (reference +1 math,
    areas_of_boxes_and_intersection_area pdfminer_processing.py:692-706)."""
    return (F.col(f"{p}.x2") - F.col(f"{p}.x1") + 1) * (
        F.col(f"{p}.y2") - F.col(f"{p}.y1") + 1
    )


def _px_inter(a: str, b: str) -> Column:
    """Pixel-inclusive pairwise intersection area."""
    return F.greatest(
        F.least(F.col(f"{a}.x2"), F.col(f"{b}.x2"))
        - F.greatest(F.col(f"{a}.x1"), F.col(f"{b}.x1"))
        + 1,
        F.lit(0.0),
    ) * F.greatest(
        F.least(F.col(f"{a}.y2"), F.col(f"{b}.y2"))
        - F.greatest(F.col(f"{a}.y1"), F.col(f"{b}.y1"))
        + 1,
        F.lit(0.0),
    )


def iou_exceeds(a: str, b: str, threshold: float) -> Column:
    """``IoU(a,b) > threshold`` in the reference's multiply-through form
    ``inter > t * max(eps, areaA + areaB - inter)`` (boxes_iou,
    pdfminer_processing.py:735-748)."""
    inter = _px_inter(a, b)
    return inter > threshold * F.greatest(
        F.lit(EPSILON_AREA), _px_area(a) + _px_area(b) - inter
    )


def is_almost_subregion_of(a: str, b: str, threshold: float) -> Column:
    """``a`` covered by ``b``: inter/area(a) > t and area(a) <= area(b)
    (bboxes1_is_almost_subregion_of_bboxes2, pdfminer_processing.py:708-721)."""
    return (
        _px_inter(a, b) > threshold * F.greatest(F.lit(EPSILON_AREA), _px_area(a))
    ) & (_px_area(a) <= _px_area(b))


def _same_page(a: str, b: str) -> Column:
    return (F.col(f"{a}.doc_id") == F.col(f"{b}.doc_id")) & (
        F.col(f"{a}.page_number") == F.col(f"{b}.page_number")
    )


# ---------------------------------------------------------------------------
# Native operators
# ---------------------------------------------------------------------------


def remove_duplicate_boxes(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Drop boxes that near-duplicate (IoU > threshold) a LATER box on
    the same page — the fake-bold/shadow-text dedup.

    Reference: remove_duplicate_elements keeps ``~upper_triangle(iou)``
    (pdfminer_processing.py:863-890) — a box is removed when any
    higher-index box on the page overlaps it above the threshold.  The
    reference blocks the IoU matmul to cap memory at 1 GB; here the
    same quadratic is a per-page self-join the shuffle already bounds,
    and executors never materialize an n² matrix.
    """
    a, b = df.alias("a"), df.alias("b")
    dup = (
        _same_page("a", "b")
        & (F.col("b.box_id") > F.col("a.box_id"))
        & iou_exceeds("a", "b", threshold)
    )
    return a.join(b, dup, "left_anti").select([F.col(f"a.{c}") for c in df.columns])


def clean_pdfminer_inner_elements(
    df: DataFrame,
    threshold: float = EMBEDDED_TEXT_AGGREGATION_SUBREGION_THRESHOLD,
) -> DataFrame:
    """Remove pdfminer-sourced boxes that sit inside exactly one
    model-detected element (dropping text the table/figure box already
    owns). Reference: clean_pdfminer_inner_elements drops pdfminer
    boxes whose almost-subregion count vs non-pdfminer boxes ``== 1``
    (pdfminer_processing.py:831-860)."""
    pdfm = df.filter(F.col("source") == "pdfminer").alias("a")
    hosts = df.filter(F.col("source") != "pdfminer").alias("b")
    inside = _same_page("a", "b") & is_almost_subregion_of("a", "b", threshold)
    counts = (
        pdfm.join(hosts, inside, "left")
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.page_number").alias("page_number"),
            F.col("a.box_id").alias("box_id"),
        )
        .agg(F.count(F.col("b.box_id")).alias("_n_hosts"))
    )
    drop = counts.filter(F.col("_n_hosts") == 1).drop("_n_hosts")
    kept_pdfm = df.filter(F.col("source") == "pdfminer").join(
        drop, ["doc_id", "page_number", "box_id"], "left_anti"
    )
    return df.filter(F.col("source") != "pdfminer").unionByName(kept_pdfm)


def aggregate_embedded_text_by_block(
    targets: DataFrame,
    sources: DataFrame,
    subregion_threshold: float = EMBEDDED_TEXT_AGGREGATION_SUBREGION_THRESHOLD,
    text_coverage_threshold: float = TEXT_COVERAGE_THRESHOLD,
) -> DataFrame:
    """For every target box, gather the text of source boxes that are
    almost-subregions of it (source order preserved) and grade how
    fully extracted the target is.

    Output = ``targets`` + ``agg_text`` STRING + ``agg_is_extracted``
    STRING ('true' when every contributing source is extracted AND the
    aggregated coverage IoU exceeds ``text_coverage_threshold``;
    'partial' when sources matched but coverage is low; 'false' when
    nothing matched). Reference: aggregate_embedded_text_by_block
    (pdfminer_processing.py:908-947) with _aggregated_iou's plain-area
    math (``:892-906,1358-1405``)."""
    t, s = targets.alias("t"), sources.alias("s")
    # coverage IoU uses plain areas (no +1) per the reference's
    # calculate_bbox_area; the subregion MASK uses the +1 form.
    plain_inter = F.greatest(
        F.least(F.col("t.x2"), F.col("s.x2")) - F.greatest(F.col("t.x1"), F.col("s.x1")),
        F.lit(0.0),
    ) * F.greatest(
        F.least(F.col("t.y2"), F.col("s.y2")) - F.greatest(F.col("t.y1"), F.col("s.y1")),
        F.lit(0.0),
    )
    plain_s_area = (F.col("s.x2") - F.col("s.x1")) * (F.col("s.y2") - F.col("s.y1"))
    joined = t.join(
        s,
        _same_page("t", "s") & is_almost_subregion_of("s", "t", subregion_threshold),
        "left",
    )
    agg = joined.groupBy([F.col(f"t.{c}").alias(c) for c in targets.columns]).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                (F.col("s.text").isNotNull()) & (F.col("s.text") != ""),
                                F.struct(F.col("s.box_id").alias("i"), F.col("s.text").alias("tx")),
                            )
                        )
                    ),
                    lambda x: x["tx"].isNotNull(),
                ),
                lambda x: x["tx"],
            ),
        ).alias("agg_text"),
        F.count(F.col("s.box_id")).alias("_n_src"),
        F.sum(plain_inter).alias("_inter"),
        F.sum(plain_s_area).alias("_s_area"),
        F.min(F.when(F.col("s.is_extracted") == "true", 1).otherwise(0)).alias("_all_ext"),
    )
    # target area recomputed from the (grouped) target coords — plain form
    t_area = (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    union = t_area + F.col("_s_area") - F.col("_inter")
    cov_iou = F.when(union == 0, F.lit(1.0)).otherwise(F.col("_inter") / union)
    return agg.withColumn(
        "agg_is_extracted",
        F.when(F.col("_n_src") == 0, F.lit("false"))
        .when((F.col("_all_ext") == 1) & (cov_iou > text_coverage_threshold), F.lit("true"))
        .otherwise(F.lit("partial")),
    ).drop("_n_src", "_inter", "_s_area", "_all_ext")


def supplement_layout_with_ocr(
    layout: DataFrame,
    ocr: DataFrame,
    subregion_threshold: float = OCR_LAYOUT_SUBREGION_THRESHOLD,
) -> DataFrame:
    """Append OCR regions not already covered by a layout element.

    Reference: supplement_layout_with_ocr_elements drops OCR regions
    that are almost-subregions of any layout box and concatenates the
    rest (ocr.py:436-491).  Appended regions are retyped
    'UncategorizedText' (inference_utils.py:74-82; the inference lib's
    proximity re-grouping of surviving words lives outside the
    reference repo and is not reproduced)."""
    o, l = ocr.alias("a"), layout.alias("b")
    covered = _same_page("a", "b") & is_almost_subregion_of("a", "b", subregion_threshold)
    additions = (
        o.join(l, covered, "left_anti")
        .withColumn("kind", F.lit("UncategorizedText"))
        .select(ocr.columns)
    )
    return layout.unionByName(additions)


def merge_layout_with_ocr_text(
    layout: DataFrame,
    ocr: DataFrame,
    subregion_threshold: float = OCR_LAYOUT_SUBREGION_THRESHOLD,
    supplement: bool = True,
) -> DataFrame:
    """OCR supplement pass: layout boxes whose text is invalid (empty
    or pdfminer '(cid:' garbage) get text aggregated from OCR word
    boxes; optionally append uncovered OCR regions.

    Reference: merge_out_layout_with_ocr_layout (ocr.py:373-411) +
    valid_text (pdf_image_utils.py:257-261)."""
    invalid = F.col("text").isNull() | (F.col("text") == "") | F.col("text").contains("(cid:")
    filled = aggregate_embedded_text_by_block(
        layout, ocr, subregion_threshold=subregion_threshold
    ).select(
        *[c for c in layout.columns if c != "text"],
        F.when(invalid, F.col("agg_text")).otherwise(F.col("text")).alias("text"),
    ).select(layout.columns)
    return (
        supplement_layout_with_ocr(filled, ocr, subregion_threshold)
        if supplement
        else filled
    )


# ---------------------------------------------------------------------------
# The 5-rule inferred/extracted page merge (numpy port)
# ---------------------------------------------------------------------------


def _np_inter(c1: np.ndarray, c2: np.ndarray) -> np.ndarray:
    x11, y11, x12, y12 = np.split(c1, 4, axis=1)
    x21, y21, x22, y22 = np.split(c2, 4, axis=1)
    return np.maximum(
        np.minimum(x12, x22.T) - np.maximum(x11, x21.T) + 1, 0
    ) * np.maximum(np.minimum(y12, y22.T) - np.maximum(y11, y21.T) + 1, 0)


def _np_area(c: np.ndarray) -> np.ndarray:
    return (c[:, 2:3] - c[:, 0:1] + 1) * (c[:, 3:4] - c[:, 1:2] + 1)


def _np_iou_gt(c1: np.ndarray, c2: np.ndarray, t: float) -> np.ndarray:
    inter = _np_inter(c1, c2)
    return inter > t * np.maximum(EPSILON_AREA, _np_area(c1) + _np_area(c2).T - inter)


def _np_subregion(c1: np.ndarray, c2: np.ndarray, t: float) -> np.ndarray:
    inter = _np_inter(c1, c2)
    a1, a2 = _np_area(c1), _np_area(c2)
    return (inter > t * np.maximum(EPSILON_AREA, a1)) & (a1 <= a2.T)


def _expand(coords: np.ndarray, others: np.ndarray) -> np.ndarray:
    """Minimum box containing ``coords`` (1,4) and every row of ``others``."""
    allc = np.vstack([coords, others])
    return np.array(
        [[allc[:, 0].min(), allc[:, 1].min(), allc[:, 2].max(), allc[:, 3].max()]]
    )


def _merge_page_cols(
    kind: np.ndarray,
    text: np.ndarray,
    isext: np.ndarray,
    coords: np.ndarray,
    s: int,
    m: int,
    e: int,
    page_width: float,
    page_height: float,
    same_t: float,
    sub_t: float,
    max_rounds: int = 5,
):
    """Port of array_merge_inferred_layout_with_extracted_layout
    (pdfminer_processing.py:250-410): rules 0-5 over one page held in
    batch-level numpy column arrays — rows [s, m) are the page's
    inferred side, [m, e) the extracted side. Returns
    (ext_keep_abs, inf_keep_abs, inf_coords, inf_text, inf_isext):
    ABSOLUTE batch indices of surviving extracted rows (page order)
    and surviving inferred rows, plus the inferred side's (possibly
    rule-2/3 mutated) coords/text/is_extracted. Working on index
    ranges of whole-batch columns keeps per-page cost to the numpy
    geometry, with no per-page DataFrame take/concat."""
    ni = m - s
    if ni == 0:
        return (
            np.arange(m, e),
            np.empty(0, dtype=np.int64),
            coords[m:m],
            text[m:m],
            isext[m:m],
        )
    icoords = coords[s:m].copy()
    ecoords = coords[m:e]
    ekinds = kind[m:e]
    e_is_img = np.isin(ekinds, IMAGE_KINDS)

    # RULE 0: drop full-page extracted images
    img_keep = np.where(e_is_img)[0]
    if len(img_keep):
        full_page = np.array([[0.0, 0.0, float(page_width), float(page_height)]])
        is_full = _np_iou_gt(
            ecoords[img_keep], full_page, FULL_PAGE_REGION_THRESHOLD
        ).sum(axis=1).astype(bool)
        img_keep = img_keep[~is_full]

    # RULE 1: inferred ≈ extracted image → drop inferred
    inf_same_as_img = (
        _np_iou_gt(icoords, ecoords[img_keep], same_t).sum(axis=1).astype(bool)
        if len(img_keep)
        else np.zeros(ni, dtype=bool)
    )
    inf_idx = np.arange(s, m)[~inf_same_as_img]  # absolute
    icoords = icoords[~inf_same_as_img]
    inf_keep = np.ones(len(inf_idx), dtype=bool)

    text_idx = np.where(~e_is_img)[0]
    if len(text_idx) == 0:
        return (img_keep + m, inf_idx, icoords, text[inf_idx], isext[inf_idx])
    if len(inf_idx) == 0:
        kept = np.concatenate([img_keep, text_idx]) + m
        return (
            kept,
            inf_idx,
            icoords,
            text[inf_idx],
            isext[inf_idx],
        )

    etext_coords = ecoords[text_idx]
    etext_abs = text_idx + m

    # RULE 2: extracted text ≈ inferred → keep inferred box (expanded),
    # take extracted text/is_extracted, drop extracted
    same = _np_iou_gt(etext_coords, icoords, same_t)
    e_same = same.any(axis=1)
    first_match = same.argmax(axis=1)
    inf_texts = text[inf_idx].copy()
    inf_isext = isext[inf_idx].copy()
    for e_i in np.where(e_same)[0]:
        i_i = first_match[e_i]
        inf_texts[i_i] = text[etext_abs[e_i]]
        inf_isext[i_i] = isext[etext_abs[e_i]]
        icoords[i_i : i_i + 1] = _expand(
            icoords[i_i : i_i + 1], etext_coords[e_i : e_i + 1]
        )

    # RULE 3: extracted subregion of inferred TEXT region → merge into
    # inferred (expand box), iterate to fixpoint
    inf_is_text = ~np.isin(kind[inf_idx], NON_TEXT_INFERRED_KINDS)
    inf_proc = inf_is_text.copy()
    ext_proc = ~e_same
    rounds = 0
    while rounds < max_rounds and inf_proc.any() and ext_proc.any():
        rounds += 1
        inf_proc_start, ext_proc_start = inf_proc.copy(), ext_proc.copy()
        sub = _np_subregion(etext_coords, icoords, sub_t)
        for i_i in np.where(inf_proc_start)[0]:
            matches = np.where(sub[:, i_i] & ext_proc)[0]
            if not matches.size:
                continue
            ext_proc[matches] = False
            inf_proc[i_i] = False
            icoords[i_i : i_i + 1] = _expand(
                icoords[i_i : i_i + 1], etext_coords[matches]
            )
        if np.array_equal(inf_proc_start, inf_proc) and np.array_equal(
            ext_proc_start, ext_proc
        ):
            break

    # RULE 4: subregion relationship in either direction between kept
    # extracted and still-unmatched (or image-like) inferred → drop
    # inferred, trust extracted; inferred Tables are exempt
    kept_ext_idx = np.concatenate([img_keep, text_idx[ext_proc]])
    if kept_ext_idx.size:
        inf_imglike = np.isin(kind[inf_idx], ("Figure", "Image", "Picture"))
        cand = np.where(np.logical_or(inf_proc, inf_imglike))[0]
        if cand.size:
            kept_ecoords = ecoords[np.sort(kept_ext_idx)]
            i_sub_e = _np_subregion(icoords[cand], kept_ecoords, sub_t)
            e_sub_i = _np_subregion(kept_ecoords, icoords[cand], sub_t)
            remove = (i_sub_e | e_sub_i.T).sum(axis=1).astype(bool)
            inf_keep[cand[remove]] = False

    # RULE 5: kept extracted (page order) + kept inferred
    ext_keep_abs = np.sort(kept_ext_idx) + m if kept_ext_idx.size else np.empty(
        0, dtype=np.int64
    )
    return (
        ext_keep_abs,
        inf_idx[inf_keep],
        icoords[inf_keep],
        inf_texts[inf_keep],
        inf_isext[inf_keep],
    )


def merge_inferred_with_extracted(
    inferred: DataFrame,
    extracted: DataFrame,
    page_width: float,
    page_height: float,
    same_region_threshold: float = LAYOUT_SAME_REGION_THRESHOLD,
    subregion_threshold: float = LAYOUT_SUBREGION_THRESHOLD,
) -> DataFrame:
    """Merge model detections with pdfminer extractions, one page at a
    time.

    Physical shape: ONE shuffle on (doc_id, page_number) then
    ``mapInPandas`` over key-sorted partitions, walking page groups
    inside each Arrow batch and emitting output in large batches.
    A per-page cogrouped ``applyInPandas`` computes the same thing but
    pays per-group Arrow+scheduling overhead (~10ms/page — 45s for a
    5k-page corpus); this formulation amortizes it across whole
    partitions, which is the behavior that survives a 100 TB corpus of
    small pages.

    Output boxes are re-ordered top-left (basic reading sort, reference
    merge_inferred_with_extracted_layout → sort_text_regions
    pdfminer_processing.py:807-813) and re-numbered 0..n-1 per page.

    ``same_region_threshold`` must lie strictly between 0 and 1: the
    output-order invariant below relies on an IoU of 1.0 exceeding it.
    """
    if not 0.0 < float(same_region_threshold) < 1.0:
        raise ValueError(
            "same_region_threshold must satisfy 0 < t < 1, got "
            f"{same_region_threshold!r}"
        )
    s_t, sub_t = float(same_region_threshold), float(subregion_threshold)
    p_w, p_h = float(page_width), float(page_height)
    keys = ["doc_id", "page_number"]

    both = inferred.withColumn("_side", F.lit(0)).unionByName(
        extracted.withColumn("_side", F.lit(1))
    )
    n_part = max(both.sparkSession.sparkContext.defaultParallelism, 1)
    pre = both.repartition(n_part, *keys).sortWithinPartitions(
        "doc_id", "page_number", "_side", "box_id"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Columnar page walk: every Arrow batch is decomposed ONCE into
        # numpy column arrays, each page is merged by _merge_page_cols
        # on index ranges, survivors are gathered per column, and
        # exactly ONE DataFrame is built per output flush (per-page
        # DataFrame take/concat would dominate the numpy geometry).
        pending: pd.DataFrame | None = None  # rows of the unfinished tail key
        acc: dict[str, list[np.ndarray]] = {c: [] for c in BOX_COLS}
        acc_rows = 0

        def merge_batch(pdf: pd.DataFrame, starts: np.ndarray) -> None:
            # ``starts``: first row of each page group in ``pdf``
            nonlocal acc_rows
            doc_a = pdf["doc_id"].to_numpy()
            page_a = pdf["page_number"].to_numpy()
            kind_a = pdf["kind"].to_numpy()
            src_a = pdf["source"].to_numpy()
            text_a = pdf["text"].to_numpy()
            isx_a = pdf["is_extracted"].to_numpy()
            coords = np.column_stack(
                [pdf[c].to_numpy(dtype=float) for c in ("x1", "y1", "x2", "y2")]
            )
            side_a = pdf["_side"].to_numpy()
            bounds = np.append(starts, len(pdf))
            for gi in range(len(starts)):
                s, e = int(bounds[gi]), int(bounds[gi + 1])
                # rows within a key arrive sorted by (_side, box_id) —
                # the sortWithinPartitions above — so the side split is
                # a binary search, not two boolean-mask scans
                m = s + int(np.searchsorted(side_a[s:e], 1))
                ext_i, inf_i, inf_c, inf_t, inf_x = _merge_page_cols(
                    kind_a, text_a, isx_a, coords, s, m, e, p_w, p_h, s_t, sub_t
                )
                n_out = len(ext_i) + len(inf_i)
                if n_out == 0:
                    continue
                # kept extracted rows (page order) first, then kept
                # inferred rows; the stable lexsort below keeps that
                # order among full-coordinate ties. With no extracted
                # text on the page the kept extracted rows are images,
                # and rule 1 has dropped every inferred box whose IoU
                # with one of them exceeds same_t — identical coords
                # have IoU 1.0 > same_t (0 < same_t < 1 is checked on
                # entry), so no inferred box ties a kept image there.
                o_x = np.concatenate([coords[ext_i], inf_c])
                o_text = np.concatenate([text_a[ext_i], inf_t])
                o_isx = np.concatenate([isx_a[ext_i], inf_x])
                all_i = np.concatenate([ext_i, inf_i])
                # stable reading-order sort, primary key LAST:
                # identical order to sort_values(["y1","x1","y2","x2"],
                # kind="stable")
                order = np.lexsort((o_x[:, 2], o_x[:, 3], o_x[:, 0], o_x[:, 1]))
                acc["doc_id"].append(np.repeat(doc_a[s], n_out))
                acc["page_number"].append(np.repeat(page_a[s], n_out))
                acc["box_id"].append(np.arange(n_out, dtype="int32"))
                acc["source"].append(src_a[all_i][order])
                acc["kind"].append(kind_a[all_i][order])
                o_x = o_x[order]
                acc["x1"].append(o_x[:, 0])
                acc["y1"].append(o_x[:, 1])
                acc["x2"].append(o_x[:, 2])
                acc["y2"].append(o_x[:, 3])
                acc["text"].append(o_text[order])
                acc["is_extracted"].append(o_isx[order])
                acc_rows += n_out

        def flush(force: bool = False):
            nonlocal acc, acc_rows
            if acc_rows and (force or acc_rows >= 4096):
                yield pd.DataFrame(
                    {c: np.concatenate(acc[c]) for c in BOX_COLS}, copy=False
                )
                acc, acc_rows = {c: [] for c in BOX_COLS}, 0

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            # page groups are contiguous runs of the partition sort
            # key; the last key may continue into the next Arrow batch
            doc_a = pdf["doc_id"].to_numpy()
            page_a = pdf["page_number"].to_numpy()
            change = (doc_a[1:] != doc_a[:-1]) | (page_a[1:] != page_a[:-1])
            starts = np.flatnonzero(np.concatenate([[True], change]))
            pending = pdf.iloc[starts[-1]:]
            if starts[-1] > 0:
                merge_batch(pdf.iloc[: starts[-1]], starts[:-1])
            yield from flush()
        if pending is not None and len(pending):
            merge_batch(pending, np.zeros(1, dtype=np.int64))
        yield from flush(force=True)

    return pre.mapInPandas(run, BOX_SCHEMA)
