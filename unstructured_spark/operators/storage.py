"""Storage layout for 100 TB corpora: bucketing, partition pruning,
and plan-inspection helpers.

At cluster scale the dominant costs of this engine's pipelines are the
shuffles that cluster elements/chunks/signatures by ``doc_id`` and the
joins between corpus-sized tables (elements ⋈ chunks, signatures ⋈
signatures, detections ⋈ extractions). Both disappear when the tables
are **written pre-clustered**:

- ``write_bucketed`` persists a table hash-bucketed (and bucket-sorted)
  on a key. Two tables bucketed the same way join/aggregate on that key
  with ZERO exchange — Spark's bucketed scan reports the hash
  distribution to the planner, which elides the shuffle. Write once,
  save a shuffle in every downstream job.
- ``write_partitioned`` persists directory-partitioned parquet
  (e.g. by ingest date / source): queries filtering on the partition
  column scan only matching directories (partition pruning — visible
  as ``PartitionFilters`` in the scan node).
- ``physical_plan`` / ``count_exchanges`` / ``assert_no_shuffle`` make
  the resulting plans testable — the repo's tests pin the zero-shuffle
  property so a regression fails CI rather than costing a 100 TB
  shuffle in production.

The bucket count is a layout contract: pick ``num_buckets`` ≈ corpus
size / (executor-digestible split), and keep it IDENTICAL across
tables meant to co-join (mismatched counts fall back to a shuffle on
one side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    num_buckets: int,
    bucket_col: str = "doc_id",
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (+ bucket-sorted) table.

    Sorting inside buckets (default: the bucket key) additionally lets
    sort-merge joins skip their per-task sort, and gives per-doc
    operators (chunking folds, hierarchy) presorted input."""
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, bucket_col)
    writer = writer.sortBy(*(sort_cols or (bucket_col,)))
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: tuple[str, ...],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned layout for partition pruning on
    low-cardinality scan predicates (ingest date, source, language)."""
    df.write.format(fmt).mode(mode).partitionBy(*partition_cols).save(path)


# ---------------------------------------------------------------------------
# plan inspection
# ---------------------------------------------------------------------------


def physical_plan(df: DataFrame) -> str:
    """The executed physical plan as a string (what ``explain()``
    prints, capturable for assertions)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — those are the cheap kind)."""
    plan = physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def assert_no_shuffle(df: DataFrame, context: str = "") -> None:
    n = count_exchanges(df)
    if n:
        raise AssertionError(
            f"plan contains {n} shuffle exchange(s){' in ' + context if context else ''}:\n"
            + physical_plan(df)
        )


def scan_pushdown_info(df: DataFrame) -> dict[str, bool]:
    """Quick pushdown audit of a scan-bearing plan: whether the parquet
    scan carries PushedFilters / PartitionFilters."""
    plan = physical_plan(df)
    return {
        "pushed_filters": "PushedFilters: []" not in plan and "PushedFilters" in plan,
        "partition_filters": "PartitionFilters: []" not in plan
        and "PartitionFilters" in plan,
    }


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Small-file compaction for a parquet directory: rewrite into
    files of ~``target_file_bytes`` and return the output file count.

    Streaming ingest and per-microbatch writers leave thousands of
    KB-sized files; at 100 TB the NameNode/listing cost and the
    per-file scan overhead dominate. Sizing uses the actual on-disk
    byte size (not row counts), coalesce (no shuffle) when shrinking.
    In-place compaction writes to a temp sibling then swaps, so a
    failure never destroys the source.
    """
    import math
    import os
    import shutil

    size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                size += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    in_place = out_path is None
    dest = (path.rstrip("/") + "._compact_tmp") if in_place else out_path
    df.coalesce(n_files).write.mode("overwrite").parquet(dest)
    if in_place:
        backup = path.rstrip("/") + "._compact_old"
        os.rename(path, backup)
        os.rename(dest, path)
        shutil.rmtree(backup)
    return n_files


def write_token_shards(
    df,
    path: str,
    tokens_per_shard: int,
    *,
    text: str = "text",
    doc_id: str = "doc_id",
    mode: str = "overwrite",
) -> int:
    """Write a corpus as token-balanced parquet shards (the training
    data-loader shape: each shard_id=N/ directory holds ~
    ``tokens_per_shard`` whitespace tokens of consecutive documents).
    Returns the shard count.

    The assignment comes from :func:`sampling.assign_token_shards`
    (distributed prefix sum, no global window); the write repartitions
    on shard_id so each shard's rows land in one task, then
    partitionBy gives the per-shard directory layout a sequential
    data loader expects. Every input row is written exactly once —
    including zero-token documents.
    """
    from unstructured_spark.operators.sampling import assign_token_shards

    assigned = assign_token_shards(
        df, tokens_per_shard, text=text, doc_id=doc_id
    )
    out = df.join(assigned.select(doc_id, "shard_id"), doc_id)
    out.repartition("shard_id").write.mode(mode).partitionBy(
        "shard_id"
    ).parquet(path)
    # count shards from the assignment, not a directory listing — works
    # on object stores too. distinct, not max+1: a document longer than
    # the budget jumps the running offset past whole shard indices, so
    # ids can have gaps
    return assigned.select("shard_id").distinct().count()


def zorder_key_sql(cols: list[str], bits: int = 16, idiv: str = "div") -> str:
    """Z-order (Morton) key as ONE portable SQL expression: interleave
    the low ``bits`` bits of each column expression so rows close in
    EVERY dimension get close keys. Pure integer arithmetic — bit i of
    column c is ``(c div 2^i) % 2`` — so the same generator serves the
    Spark plan (``idiv='div'``) and a DuckDB replay (``idiv='//'``),
    the fxln_steps discipline applied to storage layout.

    Inputs must be nonnegative integer expressions already quantized
    to < 2^bits (rank, bucket id, or value % 2^bits); total key width
    len(cols)*bits must stay < 63.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows BIGINT")
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            # bit i of column j lands at interleaved position
            # i*n + (n-1-j): column 0 takes the most-significant slot
            pos = i * n + (n - 1 - j)
            terms.append(
                f"((({c}) {idiv} {1 << i}) % 2) * cast({1 << pos} as bigint)"
            )
    return " + ".join(terms)


def with_zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 16, out: str = "zorder_key"
) -> DataFrame:
    """Append the Morton key for ``cols`` (see :func:`zorder_key_sql`)."""
    return df.withColumn(out, F.expr(zorder_key_sql(cols, bits, "div")))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 16,
    num_files: int = 32,
) -> None:
    """Persist parquet Z-ORDERED on ``cols``: range-partition by the
    Morton key, sort within files, drop the key. Every file then holds
    a compact hyper-rectangle of the key space, so parquet row-group
    min/max statistics prune scans filtered on ANY of the interleaved
    columns — the multi-dimensional generalization of a single-column
    sort (which prunes only its leading column). The standard lakehouse
    layout move (Delta/Iceberg OPTIMIZE ZORDER BY) built from plain
    repartitionByRange + sortWithinPartitions.
    """
    keyed = with_zorder_key(df, cols, bits=bits, out="_zkey")
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via Spark's Hadoop conf — the
    manifest must live NEXT TO the shards on whatever filesystem the
    shards are on (s3a/gs/abfs/hdfs/file), so plain ``open()`` is
    wrong everywhere except local runs."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # FileSystem.newInstance, NOT Path.getFileSystem: getFileSystem
    # returns the JVM-wide CACHED FileSystem, so the checksum toggles
    # below would leak to every other driver-side user of that scheme
    # (parquet commits, checkpoint writes) for the rest of the session.
    # An uncached instance scopes the toggle to manifest IO only.
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jpath.toUri(), conf
    )
    # the manifest is a small HUMAN-EDITABLE json whose integrity
    # check is validate_dataset itself — Hadoop's client-side .crc
    # sidecar (local fs only) would brick reads after any out-of-band
    # edit, so skip it where the scheme supports the toggle
    for setter in ("setWriteChecksum", "setVerifyChecksum"):
        try:
            getattr(fs, setter)(False)
        except Exception:
            pass
    return fs, jpath


def _fs_write_text(spark: SparkSession, path: str, data: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    try:
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
    finally:
        # safe: _hadoop_fs hands out UNCACHED instances
        fs.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    try:
        stream = fs.open(jpath)
        try:
            sink = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 8192, False)
            return bytes(sink.toByteArray()).decode("utf-8")
        finally:
            stream.close()
    finally:
        fs.close()


def write_dataset_manifest(
    spark: SparkSession,
    path: str,
    *,
    text: str = "text",
) -> dict:
    """Write ``_manifest.json`` next to a shard directory tree produced
    by :func:`write_token_shards`: per-shard row and whitespace-token
    counts plus totals. The consistency contract a training job checks
    BEFORE burning GPU-hours on a partially-written or stale corpus —
    object stores have no transactional rename, so "the write job
    exited 0" is not the same claim as "every shard is fully there".
    Returns the manifest dict. One scan, one small aggregate.
    """
    import json

    from unstructured_spark.operators.text_analysis import ntok_expr

    df = spark.read.parquet(path)
    ntok = ntok_expr(text)
    per = (
        df.groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("rows"),
            F.sum(ntok).cast("bigint").alias("tokens"),
        )
        .collect()
    )
    manifest = {
        "shards": {
            str(int(r["shard_id"])): {
                "rows": int(r["rows"]),
                "tokens": int(r["tokens"]),
            }
            for r in per
        },
        "total_rows": int(sum(r["rows"] for r in per)),
        "total_tokens": int(sum(r["tokens"] for r in per)),
    }
    _fs_write_text(
        spark,
        f"{path.rstrip('/')}/_manifest.json",
        json.dumps(manifest, sort_keys=True, indent=1),
    )
    return manifest


def validate_dataset(spark: SparkSession, path: str, *, text: str = "text") -> dict:
    """Recompute the :func:`write_dataset_manifest` counts and compare:
    returns ``{"ok": bool, "mismatches": {...}}`` naming every shard
    whose row/token counts drifted from the manifest (plus shards
    missing from either side). The read-side half of the consistency
    contract — run it at loader startup, fail fast instead of training
    on a hole.
    """
    import json

    from unstructured_spark.operators.text_analysis import ntok_expr

    manifest = json.loads(
        _fs_read_text(spark, f"{path.rstrip('/')}/_manifest.json")
    )
    # recompute without rewriting the manifest file
    df = spark.read.parquet(path)
    ntok = ntok_expr(text)
    per = {
        str(int(r["shard_id"])): (int(r["rows"]), int(r["tokens"]))
        for r in df.groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("rows"),
            F.sum(ntok).cast("bigint").alias("tokens"),
        )
        .collect()
    }
    want = {
        k: (v["rows"], v["tokens"]) for k, v in manifest["shards"].items()
    }
    mismatches = {}
    for k in set(per) | set(want):
        if per.get(k) != want.get(k):
            mismatches[k] = {"manifest": want.get(k), "actual": per.get(k)}
    return {"ok": not mismatches, "mismatches": mismatches}


def _diff_fp(text: str):
    """The snapshot-diff fingerprint: whitespace-normalized case-folded
    md5, NULL text folded to the empty string — shared by
    :func:`corpus_diff` and :func:`corpus_diff_summary` so the two can
    never drift apart."""
    return F.md5(
        F.lower(F.trim(F.regexp_replace(F.coalesce(F.col(text), F.lit("")),
                                        "\\s+", " ")))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Document-level diff between two corpus snapshots: one row per
    doc id present in either side with ``status`` ∈ ``added`` (new
    only), ``removed`` (old only), ``changed`` (both, normalized text
    differs), ``unchanged``. The release audit a dataset v2 ships
    with — "what exactly moved since v1" — and the input to
    incremental reprocessing (partition/embed only ``added|changed``).

    Comparison is by the same whitespace-normalized case-folded md5
    fingerprint the dedup family uses, so a formatting-only rewrite
    counts as ``unchanged`` exactly when exact-dedup would merge the
    two versions.

    Scale shape: fingerprints are map-side expressions; the only
    shuffle is the full outer join on ``doc_id`` (uniform key). No
    text leaves the wire — both sides project to (id, 32-byte fp)
    before the join.
    """
    fp = _diff_fp(text)
    o = old.select(F.col(doc_id).alias("doc_id"), fp.alias("_ofp"))
    n = new.select(F.col(doc_id).alias("doc_id"), fp.alias("_nfp"))
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_ofp").isNull(), F.lit("added"))
        .when(F.col("_nfp").isNull(), F.lit("removed"))
        .when(F.col("_ofp") != F.col("_nfp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    *,
    doc_id: str = "doc_id",
    text: str = "text",
    strata: str = "source",
) -> DataFrame:
    """Per-stratum rollup of :func:`corpus_diff`:
    ``(strata, status, docs)``. Stratum is read from the side that has
    the document (new wins for docs present in both — a doc that moved
    sources reports under its new home).

    Scale shape (r12): the stratum column rides THROUGH the same
    full-outer join :func:`corpus_diff` performs, so each snapshot is
    referenced exactly once — the r12-before form computed a separate
    union + min_by labels table and joined it back, which executed
    every upstream scan twice (q_corpus_diff: 6 FileScans, zero
    ReusedExchange) and paid a second corpus-scale shuffle join. The
    "new wins" pick is ``when(_nfp IS NOT NULL, new.src).else(old.src)``
    — _nfp is non-NULL exactly when the new side has the doc (md5 of a
    coalesced text is never NULL), so the priority semantics of the old
    min_by(_s, _p) form are preserved bit-for-bit, including NULL
    strata values on either side."""
    fp = _diff_fp(text)
    o = old.select(
        F.col(doc_id).alias("doc_id"),
        fp.alias("_ofp"),
        F.col(strata).alias("_osrc"),
    )
    n = new.select(
        F.col(doc_id).alias("doc_id"),
        fp.alias("_nfp"),
        F.col(strata).alias("_nsrc"),
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            F.when(F.col("_ofp").isNull(), F.lit("added"))
            .when(F.col("_nfp").isNull(), F.lit("removed"))
            .when(F.col("_ofp") != F.col("_nfp"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
            F.when(F.col("_nfp").isNotNull(), F.col("_nsrc"))
            .otherwise(F.col("_osrc"))
            .alias(strata),
        )
        .groupBy(strata, "status")
        .agg(F.count("*").cast("bigint").alias("docs"))
    )
