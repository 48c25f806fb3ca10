"""Skew-handling utilities (SURVEY §4 custom physical considerations:
"one 1225-page book vs 1-page memos"; driver brief: "skewed keys →
salting or AQE skew-join").

AQE (`spark.sql.adaptive.skewJoin.enabled`, on in `session.get_spark`)
handles skewed JOINS at runtime. Aggregations over hot keys still
funnel one key's rows through one task — these helpers split them:

- :func:`salted_aggregate` — two-stage aggregation: partial agg on
  (key, salt) spreads a hot key over N tasks, final agg on the key
  recombines. Works for any algebraic aggregate (sum/count/min/max and
  compositions like avg = sum/count).
- :func:`diagnose_skew` — key-frequency profile to decide whether
  salting is worth the extra exchange.
- :func:`spread` — round-robin rebalance of a scan that has fewer
  splits than the cluster has cores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# partial-result column → how to recombine partials in the final stage
_REAGG = {
    "sum": F.sum,
    "count": F.sum,  # counts add up
    "min": F.min,
    "max": F.max,
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-safe groupBy.

    ``aggs`` maps output column → (input column or '*', fn) with fn in
    {'sum', 'count', 'min', 'max', 'avg'}.

    Example::

        salted_aggregate(events, ["user_id"],
                         {"n": ("*", "count"), "total": ("value", "sum"),
                          "mean": ("value", "avg")})
    """
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    post_exprs: dict[str, Column] = {}
    for out_name, (col, fn) in aggs.items():
        if fn == "avg":
            # decompose: avg = sum/count over the same column
            partial_exprs.append(F.sum(col).alias(f"_{out_name}_s"))
            partial_exprs.append(F.count(col).alias(f"_{out_name}_c"))
            final_exprs.append(F.sum(f"_{out_name}_s").alias(f"_{out_name}_s"))
            final_exprs.append(F.sum(f"_{out_name}_c").alias(f"_{out_name}_c"))
            post_exprs[out_name] = F.col(f"_{out_name}_s") / F.col(f"_{out_name}_c")
        elif fn in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, fn)(col).alias(out_name))
            final_exprs.append(_REAGG[fn](out_name).alias(out_name))
        elif fn == "count":
            cnt = F.count("*") if col == "*" else F.count(col)
            partial_exprs.append(cnt.alias(out_name))
            final_exprs.append(_REAGG[fn](out_name).alias(out_name))
        else:
            raise ValueError(f"unsupported aggregate {fn!r}")

    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    final = partial.groupBy(*keys).agg(*final_exprs)
    if post_exprs:
        for name, expr in post_exprs.items():
            final = final.withColumn(name, expr)
        final = final.drop(
            *[c for c in final.columns if c.startswith("_") and c != "_salt"]
        )
    return final


def diagnose_skew(
    df: DataFrame, keys: list[str], *, top: int = 20
) -> DataFrame:
    """Top-N key frequencies with their share of all rows — the
    decision input for salting (a key holding >1/tasks of the data
    serializes that task)."""
    counts = df.groupBy(*keys).count()
    total = df.count()
    return (
        counts.withColumn("share", F.round(F.col("count") / F.lit(total), 6))
        .orderBy(F.desc("count"))
        .limit(top)
    )


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Scale-adaptive rebalance before a compute-heavy map stage.

    Small inputs often arrive as ONE split (a single-row-group parquet
    file, a coalesced fixture, a single large document file), so the
    scan stage's per-row work — tokenize, hash fan-out, shingling,
    parsing — would run on one core while the rest of the cluster
    idles. When the physical scan yields fewer than ``target`` splits
    (default: ``defaultParallelism``), round-robin repartition to
    ``target``. At corpus scale the scan already has at least that many
    splits, so this is an identity and no exchange enters the plan.

    Streaming micro-batches manage their own partitioning (and have no
    ``.rdd``), so a streaming DataFrame is returned unchanged.
    """
    if df.isStreaming:
        return df
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
