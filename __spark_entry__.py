"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` — one entry per implemented operator from SURVEY.md §2
(relational surface §2.10 + beyond-reference pipeline operators:
dedup, similarity search, text analysis, chunking).
``oracle_sql()`` — the DuckDB-equivalent ANSI SQL for each query.

Column names and types are aligned between both sides (the driver's
compare sorts columns by name and hashes values). Hashing used by
dedup/minhash operators is md5-based specifically so both engines
compute identical signatures (see unstructured_spark/operators/dedup.py).

NOTE: ``_t()`` mutates session-global SQL confs on the caller's
SparkSession (``spark.sql.session.timeZone=UTC``,
``spark.sql.parquet.inferTimestampNTZ.enabled=false`` and, once the
events table is read, ``spark.sql.legacy.parquet.nanosAsLong=true``).
These are required for parity with the tz-naive DuckDB oracle and they
persist for subsequent reads on the same session — there is no
per-read scope for these confs in Spark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unstructured_spark.operators import dedup, similarity, text_analysis
from unstructured_spark.operators.skew import spread
from unstructured_spark.operators.storage import zorder_key_sql
from unstructured_spark.operators.text_analysis import (
    fxln_select_sql,
    quality_q_sql,
)

SF_DEFAULT = "/root/testdata/sf0.001"

# HLL oracle constants — the SAME integers the Spark estimator embeds
# (operators/sketches.py): alpha_4096 in 2^-20 fixed point, ln(4096)
# on the fxln 2^31 grid.
from unstructured_spark.operators.sketches import hll_alpha_q20  # noqa: E402
from unstructured_spark.operators.text_analysis import fxln_int  # noqa: E402

_HLL_ALPHA_Q = hll_alpha_q20(4096)
_HLL_LNM = fxln_int(4096)

# Shared bigram-LM scoring tail for the bigram-CE / perplexity oracles:
# -ln P through the fixed-point INTEGER log (text_analysis.fxln_steps) so
# DuckDB reproduces Spark's bigints exactly — no libm ln(), no 1-ulp
# floor(+0.5) flips across engines (the r5-r7 driver-red root cause).
_NLL_FX_CTE = f""", margs as (
              select b.doc_id,
                     uc.c1 + (select v from vocab) as ma,
                     bc.c12 + 1 as mb
              from b join bc on b.w1 = bc.w1 and b.w2 = bc.w2
                     join uc on b.w1 = uc.w1
            ), nllx as (
              select doc_id,
                     {fxln_select_sql("ma", "a_")},
                     {fxln_select_sql("mb", "b_")}
              from margs
            ), nll as (
              select doc_id,
                     ((a_ln - b_ln) * 1000000 + 1073741824) // 2147483648 as nlq
              from nllx
            )"""


# Naive-Bayes train+score oracle chain (shared by q_nb_classify and
# q_nb_confusion): tok -> features -> bucket hash -> seed counts ->
# dense grid -> fxln log-probs -> per-(doc, class) scores -> rank.
_NB_RANKED_CTE = f"""
            with tok as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '),
                                 x -> x != '')[1:64] as w
              from documents
            ), feat as (
              select doc_id,
                     unnest(list_concat(w,
                       case when len(w) >= 2
                         then [w[i] || '_' || w[i+1] for i in range(1, len(w))]
                         else [] end)) as g
              from tok
            ), bkt as (
              select doc_id,
                     cast(('0x' || substr(md5(g), 1, 15)) as bigint) % 4096 as b
              from feat
            ), dm as (
              select doc_id, b, count(*) as cd from bkt group by doc_id, b
            ), seed as (
              select doc_id, source as cls from documents where doc_id % 10 < 3
            ), counts as (
              select s.cls, k.b, count(*) as cnt
              from bkt k join seed s using (doc_id) group by s.cls, k.b
            ), totals as (
              select cls, sum(cnt) as n_c from counts group by cls
            ), docsc as (
              select cls, count(*) as docs_c from seed group by cls
            ), grid as (
              select t.cls, gb.b, t.n_c, d.docs_c,
                     (select count(*) from seed) as nd,
                     coalesce(c.cnt, 0) as cnt
              from totals t
              join docsc d using (cls)
              cross join (select unnest(range(0, 4096)) as b) gb
              left join counts c on c.cls = t.cls and c.b = gb.b
            ), lng as (
              select cls, b,
                     {fxln_select_sql("(cnt + 1)", "p_")},
                     {fxln_select_sql("(n_c + 4096)", "q_")},
                     {fxln_select_sql("docs_c", "r_")},
                     {fxln_select_sql("nd", "s_")}
              from grid
            ), model as (
              select cls, b, p_ln - q_ln as lq, r_ln - s_ln as prior_q from lng
            ), perclass as (
              -- r9 root-cause fix: sum(bigint) is HUGEINT in DuckDB and
              -- a HUGEINT output column crosses the driver's fetch wire
              -- as decimal/float64 — cast the score to bigint so
              -- score_q ships as an exact integer (|score| < 2^41 by
              -- the cd*lq bound, far inside bigint).
              select dm.doc_id, m.cls,
                     any_value(m.prior_q)
                       + cast(sum(dm.cd * m.lq) as bigint) as score
              from dm join model m using (b)
              group by dm.doc_id, m.cls
            ), ranked as (
              select *, row_number() over (
                partition by doc_id order by score desc, cls asc) as rn
              from perclass
            )
"""

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Testdata stores timestamps without a timezone (TIMESTAMP_NTZ to
    # Spark 4's default reader) and, in older driver generations,
    # TIMESTAMP(NANOS). Read them as TIMESTAMP_LTZ at the scan with the
    # session timezone pinned to UTC (so LTZ values equal the tz-naive
    # oracle's) so unix_micros/date functions work and filters still
    # push down to parquet.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division — double math would round the tail digits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.10) — TPC-H-ish analytics
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + hash-agg with map-side partial agg (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k (TPC-H Q3 shape); customer side is small
    → Spark broadcasts it under AQE."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "revenue"
        )
    )


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: two broadcast dims (region, nation) + fact chain."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan+filter+agg — predicate pushdown showcase (TPC-H Q6 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(25)
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n_items"),
        )
    )


def q_nation_acctbal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Events: windows, sessionization, JSON extraction (SURVEY §2.10 windows)
# ---------------------------------------------------------------------------


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_events_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number window — the seq-on-page pattern (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + cumulative-sum sessionization (30-min gap)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("bigint").alias(
                "duration_sec"
            ),
        )
    )


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window: per-user mean event value over the
    preceding hour (inclusive). Decimal running sums + floor rounding
    keep the frame aggregation engine-exact."""
    ev = _t(spark, sf_dir, "events")
    # integer division: a double roundtrip can cross the floor boundary
    secs = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-3600, 0)
    )
    vsum = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    vcnt = F.count("*").over(w)
    mean = (
        F.floor(
            vsum.cast("double") / vcnt * F.lit(1000000.0) + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return ev.select(
        "event_id",
        "user_id",
        mean.alias("hour_avg"),
        vcnt.alias("hour_n"),
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup / chunking over documents (north-star operators)
# ---------------------------------------------------------------------------


def q_element_type_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-type histogram overlap (reference element_type.py:18-96)
    between elements derived from full vs truncated text — exercises
    element_type_frequency + element_type_percent_match."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents")

    def elements(text_col):
        lines = F.split(text_col, "\\. ")
        df = docs.select("doc_id", F.explode(lines).alias("line")).filter(
            F.trim("line") != ""
        )
        return df.select(
            "doc_id",
            F.when(
                (F.length("line") < 30) & (~F.col("line").rlike("[0-9]")),
                "Title",
            )
            .when(F.col("line").rlike("^[0-9]"), "ListItem")
            .otherwise("NarrativeText")
            .alias("type"),
            F.lit(None).cast("int").alias("category_depth"),
        )

    src = elements(F.col("text"))
    out = elements(
        F.substring(
            "text", 1, F.floor(F.length("text") * 0.6).cast("int")
        )
    )
    return metrics.element_type_percent_match(out, src).select(
        "doc_id", F.round("percent_match", 6).alias("percent_match")
    )


def q_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of document length per language
    (Spark ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit,
    including the linear-interpolation float noise)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        F.count("*").alias("n_docs"),
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via lossless pigeonhole segment blocking;
    the oracle brute-forces the same Hamming bound over all pairs.
    48-bit fingerprints: 16-bit segments give ~65k blocking buckets,
    keeping the per-bucket self-join near-linear (16-bit fps collide
    so often on same-domain text that candidates explode; 32-bit
    still left ~11-bit segments). For capped-throughput dedup at
    corpus scale pass ``max_bucket_size`` (lossy; see operator doc)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, bits=48, max_distance=2)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling fingerprints — min-hash of each sliding
    window over token k-gram hashes; pure array expressions."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.winnow_fingerprints(docs, k=5, window=4)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.doc_stats(docs).withColumn(
        "token_count", F.col("token_count").cast("bigint")
    ).withColumn("char_count", F.col("char_count").cast("bigint"))


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), "\\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality gate (Rae et al. 2021 Table A1):
    word/line stats, symbol + bullet + ellipsis ratios, stopword
    presence, duplicate line/paragraph fractions, and the composite
    keep/drop flag. All native zero-shuffle array expressions —
    scales by scan parallelism alone."""
    from unstructured_spark.operators import quality_filters as qf

    docs = _t(spark, sf_dir, "documents")
    gq = qf.gopher_quality(docs)
    frac_cols = [
        "mean_word_len",
        "alpha_word_frac",
        "symbol_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
    ]
    out = gq.select(
        "doc_id",
        F.col("word_count").cast("bigint").alias("word_count"),
        F.col("line_count").cast("bigint").alias("line_count"),
        F.col("stopword_count").cast("bigint").alias("stopword_count"),
        *[F.round(F.col(c), 6).alias(c) for c in frac_cols],
        "gopher_keep",
    )
    return out


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition signals per document: duplicate
    2/5-gram occurrence fractions + top-gram character coverage.
    Word-count-shaped plan: native gram arrays → explode → two-level
    groupBy with map-side partials; uniform shuffle keys."""
    from unstructured_spark.operators import quality_filters as qf

    docs = _t(spark, sf_dir, "documents")
    return qf.ngram_repetition(docs, ns=(2, 5))


def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs).select(
        "fingerprint", "keep_id", "dup_count"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=16, shingle_size=3)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("h", "minhash")
    ).select("doc_id", F.col("h").cast("bigint").alias("h"), "minhash")


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8, shingle_size=3)


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.simhash(F.col("text"), bits=16).alias("simhash16"))


def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking (40-token windows) — the SQL-expressible
    chunking baseline; semantic chunking (by_title) is exercised in unit
    tests over element tables."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), "\\s+")).alias("pos", "token")
    )
    return (
        toks.groupBy("doc_id", F.floor(F.col("pos") / 40).alias("chunk_index"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_tokens"),
        )
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language scoring with deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), "\\s+")
    markers = {
        "eng": ("the", "and", "of", "to", "is"),
        "spa": ("el", "la", "que", "por", "una"),
        "fra": ("le", "les", "des", "est", "dans"),
        "deu": ("der", "die", "das", "und", "ist"),
    }
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in ms])))
        for lang, ms in markers.items()
    }
    best = F.greatest(*scores.values())
    expr = (
        F.when(scores["eng"] == best, F.lit("eng"))
        .when(scores["spa"] == best, F.lit("spa"))
        .when(scores["fra"] == best, F.lit("fra"))
        .otherwise(F.lit("deu"))
    )
    return docs.select(
        "doc_id",
        expr.alias("detected_lang"),
        best.cast("bigint").alias("marker_hits"),
    )


def q_cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner composition (clean_extra_whitespace + lowercase) — the
    function-library surface over a full table scan."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("clean_md5"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
        .select("label", F.col("pos").cast("bigint").alias("pos"), "centroid_val")
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-bucketed
    blocking — the production default: candidate pairs come from a join
    keyed on the 6-bit sign-random-projection bucket, never a crossjoin,
    so join fan-out is bounded by bucket occupancy and the plan scales
    with corpus size. The md5-deterministic hyperplanes
    (similarity._hyperplane) let the oracle replay the identical bucket
    assignment in SQL; the brute-force all-pairs form survives only as
    the in-repo baseline (similarity.cosine_topk), not as a registered
    query a user would copy at scale."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    # the synthetic embeddings are near-random (max same-bucket cosine
    # ~0.43 at sf0.01), so the registered threshold is 0.3 to keep the
    # hash check non-vacuous; production near-dup thresholds (~0.95+)
    # are just the parameter.
    return similarity.embedding_near_duplicates(
        emb, threshold=0.3, dim=64, planes=6
    )


def q_srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection buckets. The hyperplanes are
    md5-deterministic (similarity._hyperplane), so the oracle replays
    the identical bucket assignment in SQL — bucketed ANN checked on
    rows+schema+hash like the IVF path."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.srp_topk(emb, queries, k=5, dim=64, planes=6).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seed-centroid coarse quantizer, probe the
    nprobe nearest lists per query, brute-force within probed lists.
    The seed-based quantizer is engine-portable, so the oracle replays
    the identical index in SQL (assignment → probes → candidate join)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, nlist=16, nprobe=4
    ).withColumn("rank", F.col("rank").cast("bigint"))


# ---------------------------------------------------------------------------
# Document-ETL spine (SURVEY §3.1): partition → elements → chunk.
# Not SQL-expressible (per-format parsing + order-sensitive chunk fold)
# → rows-only driver check; correctness is pinned by tests/ golden
# assertions instead.
# ---------------------------------------------------------------------------


def _docs_as_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("content"),
        F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
    )


def q_partition_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → auto-partition (mapInPandas) → canonical element rows
    with hash ids, languages, hierarchy."""
    from unstructured_spark.operators.partition_auto import partition_documents

    els = partition_documents(_docs_as_files(spark, sf_dir))
    # arrays are serialized: the driver's row-hash can't digest list cells
    return els.select(
        "doc_id", "element_index", "element_id", "type", "text",
        F.concat_ws(",", "languages").alias("languages"), "parent_id",
    )


def q_chunk_by_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition then chunk with the by_title strategy — the reference's
    one-call ``partition(file, chunking_strategy='by_title')`` flow:
    the chunk fold rides the parse UDF (one stage, no doc_id
    re-exchange; tests/test_chunking.py pins it to the explicit
    partition_documents → chunk operator path)."""
    from unstructured_spark.operators.partition_auto import partition_and_chunk

    chunks = partition_and_chunk(
        _docs_as_files(spark, sf_dir),
        chunking_strategy="by_title",
        chunk_kwargs={"max_characters": 500, "combine_text_under_n_chars": 200},
    )
    return chunks.select("doc_id", "element_index", "type", "text")


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH candidate pairs → iterative min-label
    connected components (O(log n) shuffle rounds, fixpoint-checked).
    Oracle = recursive-CTE transitive closure over the same pairs."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_clusters(docs).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup: lines whose normalized
    fingerprint appears in >= 2 distinct documents are boilerplate;
    every occurrence is removed and docs reassembled in line order
    (operators/dedup.py remove_boilerplate_lines)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_boilerplate_lines(docs, min_docs=2)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup, the 100 TB production shape: even doc_ids
    play the historical corpus (persisted minhash_band_index rows),
    odd doc_ids the newly-arrived batch; survivors = new docs with no
    signature-est-Jaccard >= 0.5 bucket collision against history
    (operators/dedup.py dedup_against_index). This benchmarks the
    NEW incremental primitive in isolation (intra_batch=False): the
    follow-on intra-batch pass is exactly drop_near_duplicates, which
    q_drop_near_duplicates already benches + oracles on its own, and
    chaining it here would triple-count three already-measured
    operators in one timing. The chained intra_batch=True contract is
    unit-tested (tests/test_dedup_cap.py).

    Both sides derive from one table here, so the band rows are built
    in ONE signature pass over the full corpus and split by parity
    afterwards — identical rows (signatures are per-doc), half the
    explode+md5+aggregate work: one corpus pass instead of two. (With
    the lazy checkpoint that one pass is still first materialized by
    whichever consumer job runs first — which can be the history
    side's BroadcastExchange build, so the pass runs under
    spark.sql.broadcastTimeout once; eager=True would trade that for
    a separate always-run job.) The lazy checkpoint stops the parity
    predicates pushing below the aggregate and re-splitting the
    shared subtree (tests/test_dedup_cap.py pins band-then-split ==
    split-then-band)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    banded = dedup.minhash_band_index(docs).localCheckpoint(eager=False)
    index = banded.filter(F.col("doc_id") % 2 == 0)
    new_banded = banded.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_against_index(
        new, index, new_index=new_banded, intra_batch=False
    ).select("doc_id", "text")


def q_drop_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup: exact md5 groups + LSH→Jaccard-verified
    near-dup clusters, keep-min per cluster, broadcast anti-join drop
    (the corpus itself is never shuffled). Oracle replays the whole
    pipeline: signatures, banding, Jaccard verify, recursive closure,
    md5 groups."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.drop_near_duplicates(
        docs, n=3, threshold=0.5, num_hashes=16, bands=8
    ).select("doc_id", "text")


def q_drop_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup with the production keep policy: per
    exact-fingerprint group / near-dup cluster keep the member
    maximizing n_chars (ties -> min doc_id) instead of blindly keeping
    the lowest id — what corpus builds actually do (retain the
    longest / highest-quality copy). Same LSH->Jaccard->CC pipeline as
    q_drop_near_duplicates; only the representative choice differs
    (operators/dedup.py drop_near_duplicates keep='best').

    Registered despite overlapping q_drop_near_duplicates because the
    keeper rule is a DIFFERENT aggregation path (max_by over quality
    joined onto cluster members vs the free min-label) whose
    correctness deserves its own external hash row; its cost sits in
    the existing dedup-composite band (~2.5s at sf0.1), unlike the
    intra-batch chain q_dedup_incremental deliberately excludes."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.drop_near_duplicates(
        docs, n=3, threshold=0.5, num_hashes=16, bands=8,
        keep="best", quality_col="n_chars",
    ).select("doc_id", "text")


def q_shared_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022): maximal runs of >= 15
    consecutive shared tokens between document pairs — k-gram position
    match + diagonal gaps-and-islands (suffix-array semantics,
    re-expressed as one hash-keyed self-join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.shared_ngram_spans(docs, k=15)


def q_remove_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup ACTION (Lee et al. 2022): documents rewritten
    with >=15-token verbatim shared passages cut from the later doc
    (first occurrence kept). Span positions explode to a removal set,
    a left-anti join drops them, an ordered agg rebuilds the text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_shared_spans(docs, k=15)


def q_contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 13-gram verbatim overlap of each
    corpus doc against a held-out 'benchmark' slice (deterministic
    md5 split of the documents table), GPT-3 appendix-C style. The
    benchmark gram set is broadcast; the corpus side stays map-only
    plus one per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bench = docs.filter(bucket.isin("0", "1"))
    corpus = docs.filter(~bucket.isin("0", "1"))
    # integer columns only: the contamination ratio is a small-int
    # division whose 7th decimal digit can land exactly on .5 (e.g.
    # total_grams = 128), where Spark HALF_UP and DuckDB double
    # rounding disagree — consumers divide the two counts themselves
    return dedup.contaminated_docs(corpus, bench, k=13).select(
        "doc_id", "contaminated_grams", "total_grams"
    )


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (email +
    strict phone always; Luhn-valid card on doc_id%3==0, Luhn-INVALID
    card on %3==1; SSN+IP on %5==0) so the PII queries exercise every
    detector non-degenerately. The oracle builds the identical text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.lit(" tel (555) 123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111-1111-1111-1111"))
            .when(F.col("doc_id") % 3 == 1, F.lit(" card 4111111111111112"))
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789 ip 10.0.0.1")
            ).otherwise(F.lit("")),
        ),
    )


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII counts (emails/phones/IPs/SSNs/Luhn-valid cards) —
    native regexp_extract_all + a Luhn fold, zero shuffles; the
    %3==1 docs carry a checksum-INVALID card the Luhn filter must
    reject while the loose candidate regex still sees it."""
    from unstructured_spark.operators import pii

    return pii.pii_stats(_pii_augmented(spark, sf_dir))


def q_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-placeholder PII redaction (email→[EMAIL], card→[CARD],
    ssn→[SSN], phone→[PHONE], ip→[IP]) in dependency order — cards
    before phones so digit groups aren't half-eaten. Map-only."""
    from unstructured_spark.operators import pii

    return pii.redact_docs(_pii_augmented(spark, sf_dir)).select("doc_id", "text")


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights against a deterministic target sample
    (doc_id < 20 stands in for the high-quality seed set): hashed
    unigram+bigram distributions (4096 md5 buckets), per-doc
    log-likelihood-ratio scores ready for weighted resampling."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") < 20)
    return text_analysis.dsir_importance(docs, target, buckets=4096)


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes corpus classifier (the CCNet/WebText quality-gate
    shape): train on a deterministic seed slice (doc_id % 10 < 3) with
    the ``source`` column as the label, score every document. Scores
    are exact BIGINTs via the fixed-point integer log, so the full
    train+score pipeline hash-checks against the SQL replay."""
    from unstructured_spark.operators.classifier import nb_classify

    docs = _t(spark, sf_dir, "documents")
    seed = docs.filter(F.col("doc_id") % 10 < 3)
    return nb_classify(
        docs, seed, label="source", buckets=4096, max_tokens=64,
        seed_in_corpus=True,
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "predicted",
        "score_q",
        "margin_q",
    )


def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer-training statistics (Sennrich et al.
    2016): corpus → word-frequency table (the one corpus-wide shuffle)
    → weighted adjacent-character-pair counts with the </w> end-of-word
    marker — the exact argmax statistics of the first merge iteration.
    Top-100 by (count desc, pair asc); all-integer, so the SQL replay
    is bit-exact."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    wc = tokenizer.word_counts(docs)
    return (
        tokenizer.bpe_pair_counts(wc)
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(100)
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve for vocabulary sizing: top-200 tokens with
    exact integer cumulative counts and parts-per-million coverage of
    the total token mass (truncating division — no float percentile to
    diverge across engines). The global total rides in as a broadcast
    one-row join; the ranking window touches only the k survivors of a
    TakeOrdered."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    return tokenizer.vocab_coverage(docs, top_k=200).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


# Frozen BPE merge table (learned once from the sf0.01 corpus, then
# shipped like trained weights — production encodes with a FROZEN
# tokenizer, it never relearns per batch). Counts kept for provenance;
# only the (left, right) order matters at inference.
_FROZEN_MERGES = [
    ("e", "r", 4568), ("e", "</w>", 4473), ("n", "</w>", 2834),
    ("er", "</w>", 2779), ("o", "w", 2747), ("ow", "</w>", 2747),
    ("o", "r", 2696), ("s", "t", 2676), ("h", "</w>", 1884),
    ("a", "t", 1845), ("l", "u", 1831), ("i", "n", 1796),
    ("a", "</w>", 1788), ("g", "</w>", 1777), ("y", "</w>", 1767),
    ("a", "r", 1758), ("p", "ar", 1758), ("t", "</w>", 1750),
    ("i", "n</w>", 964), ("j", "o", 964), ("jo", "in</w>", 964),
    ("a", "s", 947), ("as", "h</w>", 947), ("h", "ash</w>", 947),
    ("r", "ow</w>", 943), ("at", "c", 937), ("atc", "h</w>", 937),
    ("b", "atch</w>", 937), ("a", "n</w>", 936), ("c", "an</w>", 936),
    ("s", "can</w>", 936), ("c", "o", 934),
]


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source with the frozen 32-merge BPE
    table: exact integer (words, bpe_tokens, fertility_ppm) per
    stratum. The Python encoder touches only the VOCABULARY (one
    corpus shuffle for the (source, word) counts, Zipf-bounded UDF
    input); the oracle replays the encoder as 32 chained replace()
    calls over delimiter-wrapped symbol strings — greedy
    lowest-rank-first inference provably equals exhaustive merge
    application in learned order (see fertility_by_stratum docstring),
    so both engines produce identical token counts symbol-for-symbol."""
    from unstructured_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    return tokenizer.fertility_by_stratum(
        docs, _FROZEN_MERGES, strata="source"
    )


def q_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filter WHY table (new r9): every hygiene gate's
    verdict per doc plus the first failing gate in the documented
    cheap-to-expensive order (gopher → c4 → pii → exact_dup). Runs on
    an augmented corpus view that makes every gate reachable (the
    synthetic corpus has no PII, no code braces, and no exact dups):
    exact duplicates injected by copying the doc_id%31 slice, a PII
    contact line appended on one TEXT-derived hash slice and a C4
    code-brace marker on a disjoint second slice — text-derived
    (never doc_id), so duplicate groups receive identical
    augmentation and the dup gate still fires behind the earlier
    gates. Gopher thresholds tuned to the corpus shape (20+ words,
    1+ stopword). ONE shuffle total: every gate but exact-dup is a
    pure expression in one projection; the dup flag rides a window
    over the fingerprint partitioning."""
    from unstructured_spark.pipelines import filter_attribution

    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 31 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    base = docs.unionByName(dups)
    h = F.conv(
        F.substring(F.md5(F.col("text")), 1, 15), 16, 10
    ).cast("bigint")
    aug = base.withColumn(
        "text",
        F.when(
            h % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact admin@example.com tel (555) 123-4567"),
            ),
        )
        .when(
            h % 13 == 1,
            F.concat(F.col("text"), F.lit(" {var x = 1;}")),
        )
        .otherwise(F.col("text")),
    )
    return filter_attribution(
        aug,
        pii_max=0,
        c4_min_sentences=1,
        gopher_kwargs={"min_words": 20, "min_stopwords": 1},
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch error audit (new r9): build a 4×1024 CMS over
    the corpus vocabulary (md5-derived hash family — deterministic
    cell-for-cell across engines), probe it for the top-50 tokens, and
    report the integer-exact overcount vs the true counts. The
    conscious-swap story for exact count tables at 100 TB: the sketch
    is d·w-bounded and broadcastable, and this audit is how a user
    sizes (d, w) against their corpus's skew."""
    from unstructured_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    return sketches.cms_error_audit(docs, top_k=50, d=4, w=1024)


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (the training data-loader
    output shape): documents in doc_id order, a new shard every 2000
    whitespace tokens, documents never split. Distributed prefix sum
    (per-block totals → tiny block-offset window → broadcast join) —
    no global window touches the corpus; all-integer so the SQL
    window-cumsum replay is exact."""
    from unstructured_spark.operators.sampling import assign_token_shards

    docs = _t(spark, sf_dir, "documents")
    return assign_token_shards(docs, 2000)


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing over the
    corpus bigram LM — rank-quantile buckets on the 1e-6 score grid
    (integer arithmetic, ties share buckets; no float percentile
    interpolation to diverge across engines)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.perplexity_buckets(docs, buckets=3)


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style keep-first paragraph dedup (new in r9): over a
    deterministic paragraph-structured view of the corpus (15-token
    groups joined by blank lines — the flat synthetic texts carry no
    newlines of their own), drop every occurrence of a paragraph
    except the globally first (min (doc_id, position)) and reassemble.
    Exercises the content-preserving corpus dedup pass
    (operators/dedup.py dedup_paragraphs) end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    pdocs = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "case when size(_t) = 0 then '' else array_join(transform("
            "sequence(0, (size(_t) + 14) div 15 - 1), "
            "i -> concat_ws(' ', slice(_t, i * 15 + 1, 15))), '\\n\\n') end"
        ).alias("text"),
    )
    return dedup.dedup_paragraphs(pdocs)


def q_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup gate (new in r9): build the
    compact membership filter over the even-doc history, probe the odd
    half map-only — maybe_seen=false rows are guaranteed-new and skip
    the exact history anti-join entirely. Filter and probe are
    deterministic md5 bit positions, so the SQL replay reproduces the
    filter AND every probe verdict bit-for-bit (false positives
    included)."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bloom = dedup.bloom_fingerprint_index(hist, m_bits=1 << 16, k=4)
    return dedup.bloom_probe_new(new, bloom, m_bits=1 << 16, k=4)


def _quality_ntok_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the budgeted-selection queries: per-doc integer
    quality key (text_analysis.with_quality_q — exact BIGINT floor
    divisions, no float anywhere) + whitespace token count."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.with_quality_q(docs).select(
        "doc_id",
        "source",
        "quality_q",
        text_analysis.ntok_expr("text").alias("ntok"),
    )


_QUALITY_NTOK_BASE_SQL = """
  select doc_id, source,
         cast({qq} as bigint) as quality_q,
         cast(len(list_filter(t, w -> w != '')) as bigint) as ntok
  from (select doc_id, source,
               string_split_regex(trim(coalesce(text, '')), '\\s+') as t
        from documents)
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget data selection (new in r9): spend at most
    800 tokens per source on that source's best documents (integer
    quality key DESC, doc_id tie-break). Two-level decomposition —
    level-table offsets + within-level cumsum — so no stratum ever
    occupies one window partition; selection boundary all-integer."""
    from unstructured_spark.operators.sampling import select_token_budget

    base = _quality_ntok_base(spark, sf_dir)
    return select_token_budget(base, 800).select(
        "doc_id", "source", "quality_q", "ntok", "cum_tokens"
    )


def q_quality_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-source quality gate (new in r9): keep the top 2/5
    of each source's documents by the integer quality key — the
    threshold adapts to each source's own distribution. Exact integer
    kept-count (n*2 div 5); rank via the shared level-table prefix
    sum, never a per-source global window."""
    from unstructured_spark.operators.sampling import quality_cutoff

    base = _quality_ntok_base(spark, sf_dir)
    return quality_cutoff(base, 2, 5).select(
        "doc_id", "source", "quality_q", "q_rank"
    )


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (new in r9): exact global training
    order md5(doc_id||':ep0'), reproducible across runs/engines/
    partitionings. Rank by 256-bucket distributed prefix sum on the
    key's own first hex byte — no global window, no orderBy(rand())."""
    from unstructured_spark.operators.sampling import corpus_shuffle

    docs = _t(spark, sf_dir, "documents")
    return corpus_shuffle(docs.select("doc_id"), seed="ep0").select(
        "doc_id", "shuffle_key", "shuffle_rank"
    )


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (new r9): per-(source, status) counts
    between the documents table and a synthetic v2 (doc_id%13 slice
    removed, doc_id%7==3 texts revised, doc_id%11==5 docs re-added
    under new ids) — the release audit a dataset v2 ships with.
    Fingerprint comparison matches exact-dedup semantics
    (whitespace-normalized, case-folded md5); the only corpus shuffle
    is the full outer join on doc_id."""
    from unstructured_spark.operators.storage import corpus_diff_summary

    old = _t(spark, sf_dir, "documents")
    new = (
        old.filter(F.col("doc_id") % 13 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.col("text"), F.lit(" v2-rev")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 11 == 5).withColumn(
                "doc_id", F.col("doc_id") + 2_000_000
            )
        )
    )
    return corpus_diff_summary(old, new)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/annealing training order (new r9): exact global rank
    ordered by (quality band ASC, md5 shuffle key) — each band is one
    contiguous internally-shuffled block, so 'best data last'
    annealing is ORDER BY curriculum_rank on the loader side. Band =
    quality_q div 1e6 (≈ how many of the integer key's three signal
    terms the doc earns). Same distributed prefix sum as the epoch
    shuffle with the band prepended to the bucket key — no global
    window."""
    from unstructured_spark.operators.sampling import curriculum_order

    docs = spread(_t(spark, sf_dir, "documents"))
    banded = text_analysis.with_quality_q(docs).select(
        "doc_id",
        F.expr("quality_q div 1000000").cast("bigint").alias("band"),
    )
    return curriculum_order(banded, "band", seed="curriculum-v1")


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length quantiles (new in r9): discrete
    lower quantiles by integer rank test (100*cum >= p*n) over a
    (source, length) level table — aggregate-only, no corpus sort, no
    per-row window, no float percentile interpolation."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.token_length_quantiles(docs)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 3-gram diversity (new in r9): distinct grams as ppm
    of total gram positions — the cross-document template-ness signal
    per-doc quality scores miss. One totals aggregate + one
    (source, gram)-keyed distinct count; all-integer output."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.ngram_diversity(docs, n=3)


def q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality distribution bands (new in r9): exact
    discrete quantiles of the integer quality key through the same
    grouped_integer_quantiles machinery as q_length_quantiles —
    release-table numbers for 'how good is each source'."""
    docs = _t(spark, sf_dir, "documents")
    base = text_analysis.with_quality_q(docs)
    return text_analysis.grouped_integer_quantiles(
        base, F.col("quality_q"), probs=(10, 50, 90), suffix="_quality_q"
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order storage layout key (new in r9): Morton-interleave
    (o_custkey, o_orderkey) low 16 bits so files hold hyper-rectangles
    of the 2-D key space and parquet min/max stats prune on EITHER
    column (storage.write_zordered does the layout; this emits the
    key). Pure integer arithmetic — one generator serves both
    dialects, the fxln discipline applied to storage layout."""
    from unstructured_spark.operators.storage import with_zorder_key

    orders = _t(spark, sf_dir, "orders")
    return with_zorder_key(
        orders.select(
            "o_orderkey",
            F.expr("o_custkey % 65536").alias("_a"),
            F.expr("o_orderkey % 65536").alias("_b"),
        ),
        ["_a", "_b"],
        bits=16,
    ).select("o_orderkey", "zorder_key")


def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced selection (new in r9): cap each cluster at 20
    vectors chosen by a deterministic md5 draw — the curation step
    that stops a dominant topic from dominating the sample. Ranks via
    a per-cluster hash-prefix prefix sum (16 sub-buckets), so a huge
    cluster never lands in one window partition.

    Benches the balance PRIMITIVE on a deterministic assignment
    (vec_id % 8) — the k-means chain is benched by q_kmeans_clusters,
    and the kmeans→balance composition is pinned by the
    TestClusterBalancedSample unit tests (bench-hygiene: one operator
    per bench row; composites read as outliers)."""
    from unstructured_spark.operators.clustering import (
        cluster_balanced_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    asg = emb.select(
        "vec_id", F.expr("cast(vec_id % 8 as bigint)").alias("cluster_id")
    )
    return cluster_balanced_sample(asg, 20, seed="bal")


def q_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom index maintenance (new in r9): merge the even-doc and
    odd-doc half-corpus filters by OR-ing their sparse word tables —
    the no-rebuild incremental cycle. The oracle builds the
    WHOLE-corpus filter directly, so an external hash-green proves
    merge(bloom(A), bloom(B)) = bloom(A ∪ B) bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    even = dedup.bloom_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 0), m_bits=1 << 16, k=4
    )
    odd = dedup.bloom_fingerprint_index(
        docs.filter(F.col("doc_id") % 2 == 1), m_bits=1 << 16, k=4
    )
    return dedup.merge_bloom_indexes(even, odd)


def q_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet-for-datasets rollup (new in r9): per (source, lang)
    volumes, exact-dup ppm, HALF_UP mean integer quality — the
    composition table a corpus release ships with. One strata groupBy
    + the exact distinct-fingerprint count; all-integer outputs."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.corpus_datasheet(docs)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality gate (new in r9): recall@5 of the IVF index
    (nlist=16, nprobe=4) against exact brute-force cosine, per query —
    the QA step before trusting an index configuration at scale.
    Integer ppm recall; both searches are the already-oracled
    q_embed_topk / q_ivf_ann_topk shapes."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qs = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, qs, k=5)
    approx = similarity.ivf_topk(emb, qs, k=5, nlist=16, nprobe=4)
    return similarity.ann_recall(exact, approx, k=5)


def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave (new in r9): the
    data-loader emit order for a 5:3:1 mixture of three sources —
    low-discrepancy virtual-time schedule, all-integer, so the SQL
    replay reproduces the exact permutation."""
    from unstructured_spark.operators.sampling import interleave_by_weight

    docs = _t(spark, sf_dir, "documents")
    return interleave_by_weight(
        docs.select("doc_id", "source"),
        {"src0": 5, "src1": 3, "src2": 1},
    ).select("doc_id", "source", "emit_order")


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the unigram distribution (new in
    r9): the compressibility/diversity quality signal, integer-exact
    through the fixed-point log so the SQL replay is bit-identical
    (no libm — the same fxln discipline as the perplexity family)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.unigram_entropy(docs)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-bucketed within-cluster cosine near-dup
    flagging over the embeddings table (k=8, 2 rounds, threshold 0.42
    — chosen so the synthetic corpus has real positives). The O(n²)
    search never leaves its cluster bucket; the oracle replays the
    full iterative pipeline plus the pairwise sweep in SQL."""
    from unstructured_spark.operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iterations=2, threshold=0.42)


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: LSH clusters pin every
    near-duplicate group to one split (md5-uniform draw of the cluster
    label at 0.9/0.05/0.05) — the evaluation-leakage guard a training
    pipeline runs before sharding."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.leakage_safe_split(docs)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (k=8, 2
    update rounds, deterministic lowest-id init). Integer-quantized
    vectors keep centroid sums exact and order-independent, so the
    oracle replays init → assign → update → assign as a static SQL
    chain — a hash-checked iterative clustering algorithm."""
    from unstructured_spark.operators.clustering import kmeans_clusters

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_clusters(emb, k=8, iterations=2)


def _kmeans_cte_chain(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """The kmeans iterative-replay CTE chain (init → assign → update ×
    iters → final assign ``af``), shared by the kmeans and semantic-
    dedup oracles: same quantization, same integer centroid state,
    same fixed-order distance fold."""

    def dist(b: str, c: str) -> str:
        return (
            f"list_aggregate([pow(cast({b}.q[i] * {c}.n - {c}.s[i] as double), 2) "
            f"for i in range(1, {dim + 1})], 'sum')"
        )

    def assign(name: str, cent: str) -> str:
        return f"""{name} as (
              select vec_id, q, cid from (
                select b.vec_id, b.q, c.cid,
                  row_number() over (partition by b.vec_id
                    order by {dist('b', 'c')} asc, c.cid asc) as rn
                from base b cross join {cent} c
              ) where rn = 1
            )"""

    def update(a: str, out: str) -> str:
        return f"""{out}_s as (
              select cid, pos, sum(v) as s from (
                select cid,
                  unnest([{{'pos': i, 'v': q[i]}} for i in range(1, {dim + 1})],
                         recursive := true)
                from {a}
              ) group by cid, pos
            ), {out}_n as (
              select cid, cast(count(*) as bigint) as n from {a} group by cid
            ), {out} as (
              select s.cid, list(cast(s.s as bigint) order by s.pos) as s,
                     any_value(n.n) as n
              from {out}_s s join {out}_n n on s.cid = n.cid
              group by s.cid
            )"""

    parts = [
        f"""with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), cent0 as (
              select vec_id as cid, q as s, cast(1 as bigint) as n
              from base order by vec_id limit {k}
            )"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", f"cent{i - 1}"))
        parts.append(update(f"a{i}", f"cent{i}"))
    parts.append(assign("af", f"cent{iters}"))
    return ", ".join(parts)


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Static SQL replay of kmeans_clusters: same quantization, same
    integer centroid state, same fixed-order distance fold."""
    return (
        _kmeans_cte_chain(k, iters, dim)
        + """
            select vec_id, cid as cluster_id,
                   cast(count(*) over (partition by cid) as bigint) as cluster_size
            from af
        """
    )


def _semantic_dedup_oracle(
    k: int = 8, iters: int = 2, dim: int = 64, threshold: float = 0.42
) -> str:
    """SQL replay of clustering.semantic_dedup: the kmeans CTE chain,
    then within-cluster pairwise 6dp-rounded cosine over the ORIGINAL
    double embeddings; any vector with a lower-id >= threshold
    neighbor in its cluster is a duplicate."""
    return (
        _kmeans_cte_chain(k, iters, dim)
        + f"""
            , sized as (
              select vec_id, cid as cluster_id,
                     cast(count(*) over (partition by cid) as bigint)
                       as cluster_size
              from af
            ), vecs as (
              select cast(vec_id as bigint) as vec_id,
                     embedding::double[] as v,
                     sqrt(list_aggregate(list_transform(embedding::double[],
                          x -> x * x), 'sum')) as nrm
              from embeddings
            ), av as (
              select s.vec_id, s.cluster_id, v.v, v.nrm
              from sized s join vecs v using (vec_id)
            ), dups as (
              select distinct b.vec_id
              from av a join av b
                on a.cluster_id = b.cluster_id and a.vec_id < b.vec_id
              where round(
                      list_aggregate(list_transform(range(1, {dim + 1}),
                        i -> a.v[i] * b.v[i]), 'sum') / (a.nrm * b.nrm),
                      6) >= {threshold}
            )
            select s.vec_id, s.cluster_id, s.cluster_size,
                   (d.vec_id is not null) as is_duplicate
            from sized s left join dups d on s.vec_id = d.vec_id
        """
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T5/XLM-R convention): source
    weight ∝ n^0.5, 200-doc target, fractions 1e-9-quantized, applied
    as the deterministic per-stratum hash filter
    (operators/sampling.py temperature_mix)."""
    from unstructured_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(
        docs, 200, alpha=0.5, seed="temp-v1"
    ).select("doc_id", "source")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixing: per-stratum md5-hash sampling
    (keep 100% of src0, 50% of src1, 10% of everything else) — the
    map-only, engine-portable alternative to DataFrame.sample for
    reproducible training mixes."""
    from unstructured_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        {"src0": 1.0, "src1": 0.5},
        strata_col="source",
        default_fraction=0.1,
        seed="mix-v1",
    ).select("doc_id", "source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate docs in id order, cut
    every 256 tokens, splitting docs across boundaries. The global
    token offset is a distributed prefix sum (per-block totals →
    broadcast offsets → within-block window); the oracle is the
    single naive global-window cumsum."""
    from unstructured_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, 256)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·ln(N/df): one
    word-count shuffle + broadcast vocabulary join + per-doc top-k
    window. Scores are exact BIGINTs via the fixed-point integer log
    (ln N − ln df: integer arguments) — no libm on either engine."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.tfidf_top_terms(docs, k=3)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease from deterministic word/sentence/syllable
    counts — native regexp expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.readability(docs)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus search for ['spark','vector','customer']: one exact
    integer-stats aggregate (N, Σdl, per-term df) folded to literals,
    then a map-only scoring pass — two scans, zero shuffles. The
    oracle recomputes the same integer stats in SQL and applies ln to
    identical double arguments."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bm25_scores(docs, ["spark", "vector", "customer"])


def q_quantized_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embeddings table
    (4× memory for billion-vector ANN candidate storage) — exploded
    to (vec_id, pos, code, scale) rows for engine-stable comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id", F.posexplode("codes").alias("pos", "code"), "scale"
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction 64→8 dims with md5-deterministic
    planes (the pre-IVF/k-means shrink step at corpus scale); map-only,
    replayed in SQL from the same md5 plane family."""
    emb = _t(spark, sf_dir, "embeddings")
    red = similarity.random_projection(emb, 8, in_dim=64)
    return red.select("vec_id", F.posexplode("reduced").alias("pos", "value"))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (the IVF-PQ memory format for
    billion-vector ANN): m=8 subspaces × 16 deterministic seed
    centroids, integer-exact codebook and distance tables, query =
    the lowest-id embedding. Map-only code assignment + m table
    lookups per vector; the oracle replays codebook, codes, and ADC
    scores exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    return similarity.pq_topk(
        emb,
        [float(x) for x in qrow["embedding"]],
        m=8,
        ksub=16,
        k=10,
        exclude_id=qrow["vec_id"],
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the billion-vector layout): integer-exact coarse
    quantizer prunes to nprobe/nlist of the corpus, PQ ADC scores the
    survivors with m table lookups. One corpus pass computes coarse
    list + code; the probe filter is a literal IN-list. The oracle
    replays coarse assignment, probes, codes, and scores."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    return similarity.ivfpq_topk(
        emb,
        [float(x) for x in qrow["embedding"]],
        nlist=8,
        nprobe=2,
        m=8,
        ksub=16,
        k=10,
        exclude_id=qrow["vec_id"],
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase funnel within 24h of the first view:
    per-user first-touch step timestamps (min-based semantics, tie-
    proof across engines) and reached stage. One groupBy(user) shuffle;
    the step chain is array expressions over the collected events."""
    from unstructured_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within_seconds=24 * 3600)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    50 documents drawn with probability proportional to n_chars via the
    deterministic md5-uniform exponential race — the quality/size-
    weighted corpus-mixing primitive. Map-only keys + one top-k."""
    from unstructured_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, 50, weight_col="n_chars")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("_ws_key").alias("sampling_key"),
    )


def q_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-reach counts for the view→click→purchase funnel: one row
    per step with the number of users who reached it — the headline
    conversion table on top of q_funnel's per-user frame. One scalar
    aggregate over the funnel output, exploded back to rows."""
    from unstructured_spark.operators.funnel import funnel, funnel_summary

    ev = _t(spark, sf_dir, "events")
    per_user = funnel(ev, ["view", "click", "purchase"], within_seconds=24 * 3600)
    return funnel_summary(per_user, 3)


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection on event values: median /
    MAD (sort-based statistics — deterministic across engines, unlike
    mean/stdev whose distributed summation order varies), flagging
    |value − median| > 3·MAD.

    Shape (r12): both percentiles ride aggregate-WINDOWS over the same
    user_id partitioning — one scan, ONE exchange, two Window operators
    (the second consumes the first's column, same partition key, no
    re-shuffle). The r12-before form was two grouped percentile
    aggregates joined back onto the event rows, and its mid frame
    ``j = ev JOIN med`` was referenced twice (MAD aggregate + final
    join) with zero ReusedExchange in the executed plan — 4 FileScans
    and 4 shuffles for the same result. Per-partition state is bounded
    by a user's event count either way (exact percentile buffers the
    group in both forms). The explicit user_id IS NOT NULL filter
    replicates the old inner-join-on-key semantics for NULL keys."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    j = ev.withColumn(
        "med", F.percentile("value", F.lit(0.5)).over(w)
    ).withColumn("absdev", F.abs(F.col("value") - F.col("med")))
    return (
        j.withColumn("mad", F.percentile("absdev", F.lit(0.5)).over(w))
        .filter(F.col("absdev") > 3.0 * F.col("mad"))
        .select("user_id", "event_id", F.round("value", 6).alias("value"))
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events: first-activity
    week per user, users-still-active per (cohort, offset). Integer
    epoch-microsecond buckets — engine-exact."""
    from unstructured_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def q_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element bounding-box QA audit (reference utils.py
    catch_overlapping_and_nested_bboxes): four synthetic elements per
    doc (a nested pair, a 5% sliver pair, and a text-sharing partial
    pair whose texts are token slices of the doc) classified by the
    full reference decision tree — nesting tolerance, small-overlap
    threshold, empty/duplicate/shared-n-gram text cases with the
    largest-common-run DP. One (doc,page)-bucketed self-join."""
    from unstructured_spark.operators.overlap_audit import overlap_diagnostics

    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), "\\s+")

    def el(ix, etype, start, ln, x1, y1, x2, y2):
        return F.struct(
            F.lit(ix).alias("ix"),
            F.lit(etype).alias("etype"),
            F.concat_ws(" ", F.slice(t, start, ln)).alias("text"),
            F.lit(float(x1)).alias("x1"),
            F.lit(float(y1)).alias("y1"),
            F.lit(float(x2)).alias("x2"),
            F.lit(float(y2)).alias("y2"),
        )

    els = docs.select(
        "doc_id",
        F.lit(1).alias("page"),
        F.explode(
            F.array(
                el(0, "Title", 1, 8, 0, 0, 100, 100),
                el(1, "NarrativeText", 4, 8, 10, 10, 90, 90),
                el(2, "Text", 6, 9, 95, 0, 195, 100),
                el(3, "Text", 9, 9, 150, 0, 260, 100),
            )
        ).alias("e"),
    ).select("doc_id", "page", "e.*")
    return overlap_diagnostics(els)


def q_salted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (salted partial + final) —
    result identical to a direct groupBy, verified by the oracle."""
    from unstructured_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    out = salted_aggregate(
        ev,
        ["user_id"],
        {"n": ("*", "count"), "total": ("value", "sum")},
    )
    # Decimal partials make the salted sum exact (order-independent), so
    # the double rendering below is bit-identical to any single-pass sum.
    td = F.col("total").cast("double")
    return out.select(
        "user_id",
        "n",
        (F.floor(td * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "total"
        ),
        (
            F.floor(td / F.col("n") * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("mean"),
    )


def _synthetic_boxes(spark: SparkSession, sf_dir: str):
    """Deterministic per-doc detection boxes derived from documents
    columns (one GT + one prediction per doc, same class, pred shifted
    right by doc_id %% 13 → IoU = (10-s)/(10+s))."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(1).alias("page_number"),
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string")).alias("cls"),
        (F.col("n_chars") % 50).cast("double").alias("x1"),
        (F.col("doc_id") % 40).cast("double").alias("y1"),
        (F.col("doc_id") % 13).cast("double").alias("shift"),
        F.col("doc_id").cast("double").alias("score"),
    )
    gt = base.select(
        "doc_id", "page_number", "cls", "x1", "y1",
        (F.col("x1") + 10).alias("x2"), (F.col("y1") + 10).alias("y2"),
    )
    pred = base.select(
        "doc_id", "page_number", "cls", "score",
        (F.col("x1") + F.col("shift")).alias("x1"), "y1",
        (F.col("x1") + F.col("shift") + 10).alias("x2"),
        (F.col("y1") + 10).alias("y2"),
    )
    return pred, gt


def q_od_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-detection AP per (class, IoU threshold): per-page greedy
    matching in a cogrouped pandas stage, then the full PR-curve /
    interpolated-precision AP natively with window functions. The
    oracle recomputes the same curve in SQL (the synthetic one-box-per-
    page setup makes the greedy matcher's output closed-form)."""
    from unstructured_spark.operators.od_map import (
        average_precision,
        match_detections,
    )

    pred, gt = _synthetic_boxes(spark, sf_dir)
    ap = average_precision(match_detections(pred, gt), gt)
    return ap.select(
        "cls",
        F.round("iou_threshold", 2).alias("iou_threshold"),
        F.round("ap", 4).alias("ap"),
    )


def q_table_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEDS-like table-structure evaluation per doc: a 4-column cell
    grid per document as ground truth; prediction row-shifted for every
    5th doc. Cell contents are synthetic-distinct (``doc_id_pos``) ON
    PURPOSE: with no cross-cell token collisions, every difflib score
    in the pipeline is closed-form — unshifted docs score 1.0
    everywhere; shifted docs score exactly (row_idx 0.0, col_idx 1.0,
    row_cont 0.0, col_cont 1.0, composite 0.5) — so the full output
    hash-checks against a first-principles SQL oracle (upgraded from
    rows-only in r8; arbitrary-text alignment itself stays pinned by
    tests/test_table_eval_odmap.py on real varied fixtures)."""
    from unstructured_spark.operators.table_eval import table_eval

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.slice(F.split("text", r"\s+"), 1, 12)).alias("pos", "_t"),
    ).select(
        "doc_id", "pos",
        F.concat_ws("_", "doc_id", "pos").alias("content"),
    )
    gt = toks.select(
        "doc_id", F.lit(0).alias("table_id"),
        (F.col("pos") / 4).cast("int").alias("row_index"),
        (F.col("pos") % 4).alias("col_index"), "content",
    )
    shift = F.when(F.col("doc_id").cast("long") % 5 == 0, 1).otherwise(0)
    pred = toks.select(
        "doc_id", F.lit(0).alias("table_id"),
        ((F.col("pos") / 4).cast("int") + shift).alias("row_index"),
        (F.col("pos") % 4).alias("col_index"), "content",
    )
    return table_eval(pred, gt).select(
        "doc_id", "table_level_acc", "table_detection_f1",
        "element_row_level_index_acc", "element_col_level_index_acc",
        "composite_structure_acc",
    )


# ---------------------------------------------------------------------------
# Model-free hi_res layout operators (SURVEY §2.6): box dedup, inner-
# element cleanup, embedded-text aggregation, inferred/extracted merge.
# Synthetic detection/extraction boxes are derived from the documents
# table with pure integer modular arithmetic so the DuckDB oracle can
# regenerate them bit-identically (doubles holding integers are exact).
# ---------------------------------------------------------------------------


def _dedup_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 extracted boxes per doc; every 4th is a <=2px-jittered copy of
    its predecessor, so pages carry genuine fake-bold-style dups."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    i = F.col("i")
    base = F.when(i % 4 == 3, i - 1).otherwise(i)
    jx = F.when(i % 4 == 3, (d + i) % 3).otherwise(F.lit(0))
    jy = F.when(i % 4 == 3, (d * 3 + i) % 3).otherwise(F.lit(0))
    x1 = (d * 37 + base * 131) % 900 + jx
    y1 = (d * 53 + base * 197) % 900 + jy
    w = 20 + (d + base * 29) % 100
    h = 8 + (d * 7 + base * 17) % 30
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        i.cast("int").alias("box_id"),
        F.lit("pdfminer").alias("source"),
        F.lit("Text").alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + w).cast("double").alias("x2"),
        (y1 + h).cast("double").alias("y2"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("is_extracted"),
    )


def _host_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 model-detected host regions per doc (box_id 100+j)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    j = F.col("j")
    x1 = (d * 11 + j * 401) % 500
    y1 = (d * 13 + j * 257) % 500
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("j"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        (j + 100).cast("int").alias("box_id"),
        F.lit("inferred").alias("source"),
        F.when(j == 0, F.lit("Table")).otherwise(F.lit("NarrativeText")).alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + 300 + d % 180).cast("double").alias("x2"),
        (y1 + 200 + d % 120).cast("double").alias("y2"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("is_extracted"),
    )


def _small_text_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6 pdfminer word/line boxes per doc, with text + is_extracted."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    i = F.col("i")
    x1 = (d * 19 + i * 83) % 950
    y1 = (d * 23 + i * 89) % 950
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("i"),
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        i.cast("int").alias("box_id"),
        F.lit("pdfminer").alias("source"),
        F.lit("Text").alias("kind"),
        x1.cast("double").alias("x1"),
        y1.cast("double").alias("y1"),
        (x1 + 10 + (d + i) % 30).cast("double").alias("x2"),
        (y1 + 6 + (d * 5 + i) % 20).cast("double").alias("y2"),
        F.concat(F.lit("w"), F.col("doc_id"), F.lit("_"), i.cast("string")).alias("text"),
        F.lit("true").alias("is_extracted"),
    )


def _form_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic FormKey/FormValue/Table detections, one form page per
    doc, exercising every pairing rule: inline (key 1), below (key 2),
    parity-alternating nearest-of-two (key 3), orphan (key 4),
    value-conflict where the closer key 6 beats key 5, and a
    table-hosted pair (key 7 + value 205) that skip_table_regions
    drops. The whole page is rigidly translated by (doc%7, doc%11) so
    coordinates vary per doc while relations stay fixed."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("_d")
    dx = (d % 7).cast("double")
    dy = (d % 11).cast("double")
    ga = (10 + (d % 2) * 40).cast("double")
    gb = (30 - (d % 2) * 20).cast("double")

    def box(bid, kind, tag, x1, y1, x2, y2):
        txt = (
            F.lit(None).cast("string")
            if tag is None
            else F.concat(F.lit(tag + "_"), F.col("doc_id"))
        )
        return F.struct(
            F.lit(bid).cast("int").alias("box_id"),
            F.lit(kind).alias("kind"),
            txt.alias("text"),
            (x1 + dx).cast("double").alias("x1"),
            (y1 + dy).cast("double").alias("y1"),
            (x2 + dx).cast("double").alias("x2"),
            (y2 + dy).cast("double").alias("y2"),
        )

    z = F.lit(0.0)
    boxes = F.array(
        box(1, "FormKey", "k1", z + 50, z, z + 150, z + 20),
        box(2, "FormKey", "k2", z + 50, z + 100, z + 150, z + 120),
        box(3, "FormKey", "k3", z + 50, z + 200, z + 150, z + 220),
        box(4, "FormKey", "k4", z + 50, z + 400, z + 150, z + 420),
        box(5, "FormKey", "k5", z + 600, z, z + 700, z + 20),
        box(6, "FormKey", "k6", z + 720, z, z + 780, z + 20),
        box(7, "FormKey", "k7", z + 60, z + 300, z + 160, z + 320),
        box(200, "FormValue", "v200", z + 160, z, z + 260, z + 20),
        box(201, "FormValue", "v201", z + 50, z + 130, z + 150, z + 150),
        box(202, "FormValue", "v202", ga + 160, z + 200, ga + 260, z + 220),
        box(203, "FormValue", "v203", gb + 160, z + 200, gb + 260, z + 220),
        box(204, "FormValue", "v204", z + 800, z, z + 900, z + 20),
        box(205, "FormValue", "v205", z + 170, z + 300, z + 270, z + 320),
        box(900, "Table", None, z + 40, z + 290, z + 400, z + 400),
    )
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("doc_id").cast("long").alias("_d"),
        )
        .select("doc_id", F.explode(boxes).alias("b"))
        .select(
            "doc_id",
            F.lit(1).alias("page_number"),
            F.col("b.box_id").alias("box_id"),
            F.col("b.kind").alias("kind"),
            F.col("b.text").alias("text"),
            F.col("b.x1").alias("x1"),
            F.col("b.y1").alias("y1"),
            F.col("b.x2").alias("x2"),
            F.col("b.y2").alias("y2"),
        )
    )


def q_form_kv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hi_res form extraction — the reference's extract_forms surface
    (partition/pdf.py:1047-1080; FormKeyValuePair shape
    documents/elements.py:138-147; run_form_extraction itself is a
    NotImplementedError stub in the reference, so the model-free
    geometry here defines the semantics). Injectable detections →
    native per-page pairing join + two windows; the oracle replays the
    full geometry in SQL."""
    from unstructured_spark.operators.form_extraction import form_kv_pairs

    det = _form_detections(spark, sf_dir)
    out = form_kv_pairs(det)
    return out.select(
        "doc_id",
        F.col("page_number").cast("bigint").alias("page_number"),
        F.col("key_box_id").cast("bigint").alias("key_box_id"),
        "key_text",
        F.col("value_box_id").cast("bigint").alias("value_box_id"),
        "value_text",
        "relation",
        "gap",
        "confidence",
    )


def q_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style perplexity filter reduced to an in-engine
    add-one-smoothed bigram LM: per-doc avg -ln P(w2|w1) under the
    corpus's own bigram statistics. High scores = gibberish/boilerplate
    candidates for the training-data quality gate."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.bigram_cross_entropy(docs)


def q_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(p_shard || p_corpus) over smoothed token
    distributions — the shard-drift monitor run before mixing
    multi-source training data. Exercises the top-N vocabulary cap
    (the 100 TB lever that bounds the shards × vocab grid)."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.token_kl_drift(docs, max_vocab=500)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 lexical top-20 + brute-cosine vector
    top-20 (query = embedding of vec_id 0, corpus = embeddings of doc
    ids) fused with reciprocal-rank fusion (k=60), top 10. Fusion is a
    union + one aggregate over <=40 rows; the heavy lifting stays in
    the scale-shaped retrievers."""
    from unstructured_spark.operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    emb = (
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id")
    )
    bm25 = text_analysis.bm25_scores(docs, ["spark", "vector", "customer"])
    lex = retrieval.rank_by(bm25, "score", "doc_id", 20)
    ann = (
        similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("bigint").alias("rank"))
    )
    return retrieval.reciprocal_rank_fusion([lex, ann], top=10)


def q_form_kv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based "Label: value" form extraction from plain text
    (operators/form_extraction.form_kv_from_text — the zero-detection
    fallback of the extract_forms surface). Lines are synthesized
    deterministically from document tokens (first two tokens label,
    next three value) so the regex pass has real input and the oracle
    replays construction + extraction."""
    from unstructured_spark.operators.form_extraction import form_kv_from_text

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), "\\s+"), lambda x: x != F.lit("")
    )
    line = F.concat(
        F.concat_ws(" ", F.slice(toks, 1, 2)),
        F.lit(": "),
        F.concat_ws(" ", F.slice(toks, 3, 3)),
    )
    synth = docs.select("doc_id", line.alias("text")).filter(
        F.size(toks) >= 5
    )
    return form_kv_from_text(synth)


def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup: 64-bit dHash (grayscale 9x8 downsample,
    adjacent-cell comparisons) + lossless pigeonhole Hamming blocking
    (dedup.hamming_pairs — never all-pairs). The pixel grids here are
    md5-deterministic surrogates (doc groups of 4 sharing a base image
    with per-variant bumps on sampled rows 0 and 6) so the oracle replays grid, resize, hash
    and pairs bit-for-bit in SQL; the REAL byte-decode path is
    multimodal.image_dhash (same hash function, unit-tested on encoded
    pixels)."""
    import pandas as pd
    from pyspark.sql import types as T

    from unstructured_spark.operators.dedup import hamming_pairs

    def _dhash_fn(doc_id):
        import hashlib

        out = []
        for d in doc_id:
            grp, var = int(d) // 4, int(d) % 4
            gray = [[0] * 9 for _ in range(8)]
            for r2 in range(8):
                r = r2 * 2
                hx = hashlib.md5(f"img:{grp}:{r}".encode()).hexdigest()
                for c2 in range(9):
                    c = (c2 * 16) // 9
                    v = int(hx[c * 2 : c * 2 + 2], 16)
                    # variant perturbation: invert whole sampled rows so
                    # each variant flips a handful of comparisons —
                    # within-group distances spread across the bound
                    if var in (1, 3) and r == 0:
                        v = 255 - v
                    if var >= 2 and r == 6:
                        v = 255 - v
                    gray[r2][c2] = v
            val = 0
            for r2 in range(8):
                for c2 in range(8):
                    if gray[r2][c2] < gray[r2][c2 + 1]:
                        val |= 1 << (r2 * 8 + c2)
            out.append(val - (1 << 64) if val >= 1 << 63 else val)
        return pd.Series(out, dtype="int64")

    # annotations set explicitly: pandas is imported locally, so inline
    # hints would be strings the UDF type-inferencer can't resolve
    _dhash_fn.__annotations__ = {"doc_id": pd.Series, "return": pd.Series}
    _dhash = F.pandas_udf(_dhash_fn, T.LongType())

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    # ~16 bytes/doc checkpoint so the blocking self-join's two sides
    # don't EACH re-run the hash UDF (same rationale as simhash_pairs)
    hashed = docs.select(
        "doc_id", _dhash(F.col("doc_id")).alias("dhash")
    ).localCheckpoint(eager=False)
    # max_distance=8: 9 segments of ~7 bits — bucket cardinality 128
    # per segment keeps the per-bucket self-join tiny (13 segments of
    # 4-5 bits measured 7x slower from 312-doc buckets; the bits-per-
    # segment lever from SCALING.md in action)
    return hamming_pairs(
        hashed, hash_col="dhash", doc_id="doc_id", bits=64, max_distance=8
    )


def q_box_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-bold/shadow-text bbox dedup: drop boxes whose IoU with a
    later box exceeds 0.5 (reference remove_duplicate_elements,
    pdfminer_processing.py:863-890) as a native per-page self-join.
    The oracle replays the +1 pixel-inclusive IoU in SQL."""
    from unstructured_spark.operators.layout_merge import remove_duplicate_boxes

    boxes = _dedup_boxes(spark, sf_dir)
    return remove_duplicate_boxes(boxes, threshold=0.5).select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "x1", "y1", "x2", "y2",
    )


def q_clean_inner_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_pdfminer_inner_elements (pdfminer_processing.py:831-860):
    pdfminer boxes inside exactly one model region are dropped. Native
    join + count; oracle replays the almost-subregion predicate."""
    from unstructured_spark.operators.layout_merge import clean_pdfminer_inner_elements

    df = _host_boxes(spark, sf_dir).unionByName(_small_text_boxes(spark, sf_dir))
    return clean_pdfminer_inner_elements(df).select(
        "doc_id", "source", F.col("box_id").cast("bigint").alias("box_id"),
        "x1", "y1",
    )


def q_embed_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_embedded_text_by_block (pdfminer_processing.py:908-947):
    per target region, source texts in reading order + the
    true/partial/false extraction grade from the plain-area coverage
    IoU. Native join+agg; full SQL oracle."""
    from unstructured_spark.operators.layout_merge import aggregate_embedded_text_by_block

    out = aggregate_embedded_text_by_block(
        _host_boxes(spark, sf_dir), _small_text_boxes(spark, sf_dir),
        subregion_threshold=0.99, text_coverage_threshold=0.25,
    )
    return out.select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "agg_text", "agg_is_extracted",
    )


def q_ocr_supplement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplement_layout_with_ocr (ocr.py:436-491): OCR word boxes not
    almost-covered (threshold 0.5) by a layout element are appended as
    UncategorizedText regions. Native anti-join; full SQL oracle."""
    from unstructured_spark.operators.layout_merge import supplement_layout_with_ocr

    layout = _host_boxes(spark, sf_dir)
    ocr = _small_text_boxes(spark, sf_dir).withColumn("source", F.lit("ocr"))
    out = supplement_layout_with_ocr(layout, ocr, subregion_threshold=0.5)
    return out.select(
        "doc_id", "source", "kind",
        F.col("box_id").cast("bigint").alias("box_id"), "x1", "y1",
    )


# One page constellation per doc for q_layout_merge, rigidly translated
# by (dx, dy) = (3d % 97, 7d % 89) so coordinates vary per doc while the
# rule interactions stay FIXED — which makes the merged output a single
# hand-derived pattern the DuckDB oracle can state from first principles
# (the r8 upgrade of this query from rows-only to hash-checked). Boxes
# and the rule each exercises:
#   E0 full-page Image (0,0,1000,1000), untranslated   → rule 0 drop
#   E1 Image  (600,600,680,660)   + I1 Image same box  → rule 1 drops I1
#   E2 Text   (100,100,200,140)   + I2 Narrative (98,98,202,142):
#       IoU 4141/4725 = 0.876 > 0.75                   → rule 2: I2 keeps
#       its box, adopts E2's text, E2 dropped
#   E3a Text  (310,310,340,320) inside I3 (300,300,500,400) and
#   E3b Text  (450,350,510,400): inter 2601 > .75·3111 → rule 3 merges
#       both into I3, EXPANDING it to (300,300,510,400)
#   E4 Text   (700,100,730,120) inside I4 Figure (695,95,735,125):
#       I4 is image-like                               → rule 4 drops I4
#   E5 Text   (820,820,840,835) inside I5 Table (800,800,900,900):
#       Tables are exempt from rules 3/4               → both kept
#   E6 Text   (850,50,880,70) and I6 Title (50,600,150,700): untouched
# Survivors after the top-left re-sort + renumber (8 per doc):
#   0:E6  1:I2(text=e2_d)  2:E4  3:I3(expanded)  4:I6  5:E1  6:I5  7:E5
_LAYOUT_CONSTELLATION = {
    # (base coords, kind, text prefix or None) — translated unless noted
    "extracted": [
        (0, "Image", (0, 0, 1000, 1000), None, False),  # E0, page-anchored
        (1, "Image", (600, 600, 680, 660), None, True),
        (2, "Text", (100, 100, 200, 140), "e2_", True),
        (3, "Text", (310, 310, 340, 320), "e3a_", True),
        (4, "Text", (450, 350, 510, 400), "e3b_", True),
        (5, "Text", (700, 100, 730, 120), "e4_", True),
        (6, "Text", (820, 820, 840, 835), "e5_", True),
        (7, "Text", (850, 50, 880, 70), "e6_", True),
    ],
    "inferred": [
        (100, "Image", (600, 600, 680, 660), None, True),
        (101, "NarrativeText", (98, 98, 202, 142), None, True),
        (102, "NarrativeText", (300, 300, 500, 400), None, True),
        (103, "Figure", (695, 95, 735, 125), None, True),
        (104, "Table", (800, 800, 900, 900), None, True),
        (105, "Title", (50, 600, 150, 700), None, True),
    ],
}


def _constellation_boxes(spark: SparkSession, sf_dir: str, side: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("long").alias("_d"),
    )
    d = F.col("_d")
    dx, dy = (d * 3 % 97).cast("double"), (d * 7 % 89).cast("double")
    rows = []
    for bid, kind, (x1, y1, x2, y2), tpre, translated in _LAYOUT_CONSTELLATION[side]:
        ox = dx if translated else F.lit(0.0)
        oy = dy if translated else F.lit(0.0)
        rows.append(
            F.struct(
                F.lit(bid).cast("int").alias("box_id"),
                F.lit(kind).alias("kind"),
                (F.lit(float(x1)) + ox).alias("x1"),
                (F.lit(float(y1)) + oy).alias("y1"),
                (F.lit(float(x2)) + ox).alias("x2"),
                (F.lit(float(y2)) + oy).alias("y2"),
                (
                    F.concat(F.lit(tpre), F.col("doc_id"))
                    if tpre
                    else F.lit(None).cast("string")
                ).alias("text"),
            )
        )
    src = "pdfminer" if side == "extracted" else "inferred"
    return docs.select(
        "doc_id", F.explode(F.array(*rows)).alias("b")
    ).select(
        "doc_id",
        F.lit(1).alias("page_number"),
        F.col("b.box_id").alias("box_id"),
        F.lit(src).alias("source"),
        F.col("b.kind").alias("kind"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
        F.col("b.x2").alias("x2"),
        F.col("b.y2").alias("y2"),
        F.col("b.text").alias("text"),
        F.lit("true" if side == "extracted" else None).cast("string").alias(
            "is_extracted"
        ),
    )


def q_layout_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-rule inferred/extracted page merge
    (array_merge_inferred_layout_with_extracted_layout,
    pdfminer_processing.py:250-410) over a rigid-translation
    constellation that exercises every rule incl. the rule-3 box
    expansion — hand-derived expected output, hash-checked against the
    oracle (upgraded from rows-only in r8); unit tests in
    tests/test_layout_merge.py still pin each rule against the
    reference's own fixtures."""
    from unstructured_spark.operators.layout_merge import merge_inferred_with_extracted

    inferred = _constellation_boxes(spark, sf_dir, "inferred")
    extracted = _constellation_boxes(spark, sf_dir, "extracted")
    merged = merge_inferred_with_extracted(inferred, extracted, 1000.0, 1000.0)
    return merged.select(
        "doc_id", F.col("box_id").cast("bigint").alias("box_id"),
        "source", "kind", "x1", "y1", "x2", "y2", "text",
    )


def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counts by priority class
    (late = shipped >60 days after order date)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    is_late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    is_urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(is_late & is_urgent, 1).otherwise(0)).alias("late_urgent"),
            F.sum(F.when(is_late & ~is_urgent, 1).otherwise(0)).alias("late_other"),
            F.count("*").alias("line_count"),
        )
    )


def q04_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — count orders per priority
    that have at least one late line (shipped >30 days after the order
    date; the testdata carries no commit/receipt dates, so lateness is
    shipdate-based). Spark plans a LeftSemi join; the oracle uses the
    literal EXISTS subquery."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 30)
    semi = o.join(late.select(F.col("l_orderkey").alias("k")).distinct(),
                  o.o_orderkey == F.col("k"), "left_semi")
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: multi-way join (lineitem ⋈ part ⋈ supplier ⋈
    nation ⋈ derived partsupp) → profit by nation and order year.
    Profit sums in decimal space so both engines agree to the cent."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type").contains("PROMO"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    ps = _partsupp(spark, sf_dir)
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share of PROMO parts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity brackets."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    b2 = (
        (F.col("p_brand") == "Brand#13")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(b1 | b2).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count("*").alias("line_count"),
    )


def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year —
    fact chain lineitem→orders→customer with two broadcast nation dims
    (supplier side and customer side), disjunctive pair filter."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .withColumn("l_year", F.col("l_year").cast("bigint"))
    )


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO revenue per
    order-year — conditional aggregation over a 5-way star join.
    Decimal partials make the share ratio engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(r), F.col("cr_key") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", rev)).alias("_nat"),
            F.sum(rev).alias("_tot"),
        )
    )
    share = F.coalesce(F.col("_nat").cast("double"), F.lit(0.0)) / F.col(
        "_tot"
    ).cast("double")
    return agg.select(
        F.col("o_year").cast("bigint").alias("o_year"),
        (F.floor(share * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "mkt_share"
        ),
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter (join + agg + bounded top-k)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # decimal partials: the top-20 cutoff and displayed cents must not
    # depend on double summation order
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name", "revenue",
        )
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via left outer
    join (customers with zero qualifying orders land in bucket 0)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue — decimal
    partials make the max-selection engine-exact; the max is joined back
    via an unpartitioned window over the (small) per-supplier aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    per_supp = (
        li.groupBy("l_suppkey").agg(F.sum(rev_dec).alias("_rev"))
    )
    w = Window.orderBy(F.lit(1))
    ranked = per_supp.withColumn("_max", F.max("_rev").over(w))
    return (
        ranked.filter(F.col("_rev") == F.col("_max"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("_rev"), 2).cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: avg weekly revenue from small-quantity orders of
    one brand — the correlated per-part avg becomes a broadcast join of
    an exact decimal aggregate (threshold decisions are engine-exact)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li_p = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_part = li_p.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qs"),
        F.count("*").alias("_qn"),
    )
    thresh = F.lit(0.2) * (F.col("_qs").cast("double") / F.col("_qn"))
    return (
        li_p.join(F.broadcast(per_part), li_p.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < thresh)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (exact decimal group sum), joined back to customer, top-100."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qty"))
        .filter(F.col("_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round(F.col("_qty"), 2).cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no commitdate column — late means
    shipped >90 days after the order date): suppliers who were the ONLY
    late supplier in a multi-supplier order. The exists/not-exists pair
    collapses to one window aggregation per order — no self-joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90).alias("late"),
    )
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("supp_late")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.withColumn("n_supps", F.count("*").over(w)).withColumn(
        "n_late", F.sum("supp_late").over(w)
    )
    return (
        flagged.filter(
            (F.col("supp_late") == 1) & (F.col("n_late") == 1) & (F.col("n_supps") > 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the average who
    never ordered — broadcast scalar threshold + left-anti join. The
    threshold comes from an exact decimal sum so both engines make
    identical boundary decisions."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 7)
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("_s"),
        F.count("*").alias("_n"),
    )
    thresh = (F.col("_s").cast("double") / F.col("_n")).alias("_thresh")
    rich = c.crossJoin(F.broadcast(stats.select(thresh))).filter(
        F.col("c_acctbal") > F.col("_thresh")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double"), 2
            ).alias("totacctbal"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            "numcust", "totacctbal",
        )
    )


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived part-supplier inventory (the testdata ships no partsupp
    table): availqty = line count, supplycost = min unit price, both
    order-independent aggregates so the derivation is engine-exact.
    supplycost rounds in decimal space (cast→decimal(18,6) then
    round(,2) — both engines round decimals half-away-from-zero)."""
    li = _t(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).cast(
        "decimal(18,6)"
    )
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.count("*").alias("ps_availqty"),
        F.round(F.min(unit), 2).alias("ps_supplycost"),
    )


from unstructured_spark.functions import patterns as _pat  # noqa: E402

# PII regexes shared by the Spark operators and the DuckDB oracles
# (Java-regex ∩ RE2 subset; see functions/patterns.py)
_P_EMAIL = _pat.EMAIL_ADDRESS
_P_PHONE = _pat.US_PHONE_STRICT
_P_IP = _pat.IP_ADDRESS
_P_SSN = _pat.SSN
_P_CC = _pat.CREDIT_CARD_CANDIDATE

# deterministic synthetic-PII augmentation (see _pii_augmented)
_PII_AUG_CTE = """
            aug as (
              select doc_id,
                text || ' contact user' || cast(doc_id as varchar) || '@example.com'
                     || ' tel (555) 123-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                     || case when doc_id % 3 = 0 then ' card 4111-1111-1111-1111'
                             when doc_id % 3 = 1 then ' card 4111111111111112'
                             else '' end
                     || case when doc_id % 5 = 0 then ' ssn 123-45-6789 ip 10.0.0.1'
                             else '' end
                  as text
              from documents
            )
"""

_PARTSUPP_CTE = """
            partsupp as (
              select l_partkey as ps_partkey, l_suppkey as ps_suppkey,
                     count(*) as ps_availqty,
                     round(min(cast(l_extendedprice / l_quantity
                                    as decimal(18,6))), 2) as ps_supplycost
              from lineitem group by 1, 2
            )
"""


def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier within a region —
    the correlated MIN subquery becomes a window over the join result
    (exact decimal comparison selects identical rows in both engines)."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        j.withColumn("_min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("_min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "p_name",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose national inventory value exceeds a
    fraction of the total — HAVING against a broadcast scalar computed
    from exact decimal sums."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    j = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("_v"),
        )
    )
    per_part = j.groupBy("ps_partkey").agg(F.sum("_v").alias("_value"))
    total = j.agg(F.sum("_v").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_value").cast("double")
            > F.col("_total").cast("double") * F.lit(0.001)
        )
        .select(
            "ps_partkey",
            F.col("_value").cast("double").alias("stock_value"),
        )
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier counts per part attribute group with a
    NOT-IN anti-join (negative-balance suppliers excluded) and
    COUNT(DISTINCT)."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") < 15)
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad_key"))
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            ps.ps_suppkey == F.col("_bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .select(
            "p_brand", "p_type",
            F.col("p_size").cast("bigint").alias("p_size"),
            "supplier_cnt",
        )
    )


def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding excess stock of
    some part — the nested quantity-threshold subquery becomes an exact
    decimal aggregate joined back; the EXISTS collapses to a semi join.

    Plan shape: the derived partsupp inventory and the shipped-quantity
    subquery group on the SAME (partkey, suppkey) keys, so both fold
    into ONE pass over lineitem (conditional sum for the date-windowed
    quantity) — one scan + one shuffle instead of two scans, two
    shuffles and a large-large join. The inner join against `shipped`
    becomes `_qty IS NOT NULL`."""
    li = _t(spark, sf_dir, "lineitem")
    in_window = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1998-01-01"
    )
    qty = F.when(in_window, F.col("l_quantity").cast("decimal(18,6)"))
    grouped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.count("*").alias("ps_availqty"),
        F.sum(qty).alias("_qty"),
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    excess = (
        grouped.filter(
            F.col("_qty").isNotNull()
            & (
                F.col("ps_availqty").cast("double")
                > F.col("_qty").cast("double") * F.lit(0.3)
            )
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the user's latest click at-or-before it
    (union-window as-of join: one shuffle, no range-join explosion)."""
    from unstructured_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(errors, clicks, on="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_click_id").alias("click_event_id"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")
        ).cast("bigint").alias("lag_seconds"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(error, click) pairs by the same user within 300 s — banded
    range join (time-bucket co-partitioning bounds the search)."""
    from unstructured_spark.operators.asof import range_join_seconds

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("left_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = range_join_seconds(
        errors, clicks, on="user_id", ts="ts", window_seconds=300
    )
    return out.select(
        "left_id", F.col("r_event_id").alias("right_id"), "user_id"
    )


def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hash embedding of document text via the mapInPandas
    embedding operator (per-worker encoder singleton; SURVEY §2.7).
    The md5-based HashingEncoder is engine-portable, so DuckDB
    reproduces the exact vectors — this oracle-checks the embedding
    plumbing end to end."""
    from unstructured_spark.operators import embed

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed.embed_elements(docs, lambda: embed.HashingEncoder(dim=8))
    # embeddings are float32 on the wire; round to 4 (inside float32's
    # ~7 significant digits) so both engines stringify identically
    # serialize to a fixed-scale string: the driver's row-hash can't
    # digest list cells, and decimal(10,4) renders identically in both
    # engines (no scientific notation for small magnitudes)
    return out.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "embeddings",
                lambda v: F.round(v.cast("double"), 4)
                .cast("decimal(10,4)")
                .cast("string"),
            ),
        ).alias("vec"),
    )


# ---------------------------------------------------------------------------
# Evaluation metrics (SURVEY §2.9) — reference unstructured/metrics/*
# as Spark jobs, oracle-checked against DuckDB's levenshtein.
# ---------------------------------------------------------------------------


def q_metrics_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped evaluation rollup (reference get_mean_grouping,
    evaluate.py:510-597): per-doctype mean/stdev/pstdev/count of the
    edit-distance accuracy — the reference's pandas groupby loop as a
    single hash aggregate."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("source_text"),
        F.regexp_replace(F.substring("text", 1, 120), "[aeiou]", "").alias(
            "output_text"
        ),
    )
    scored = metrics.score_edit_distance(docs).withColumn(
        "doctype", F.concat(F.lit("type"), (F.col("doc_id") % 4).cast("string"))
    )
    return metrics.mean_grouping(scored, "doctype", ["accuracy"]).withColumn(
        "accuracy_count", F.col("accuracy_count").cast("bigint")
    )


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc edit-distance accuracy between a doc and a degraded copy
    (native levenshtein; reference text_extraction.py:59-224)."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 120).alias("source_text"),
        F.regexp_replace(F.substring("text", 1, 120), "[aeiou]", "").alias(
            "output_text"
        ),
    )
    scored = metrics.score_edit_distance(docs)
    return scored.select("doc_id", F.round("accuracy", 6).alias("accuracy"))


def q_eval_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate mean/stdev/count over per-doc accuracy scores
    (reference evaluate.py batch aggregation)."""
    from unstructured_spark.operators import metrics

    return metrics.aggregate_scores(q_edit_distance(spark, sf_dir), "accuracy")


def q_percent_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bag percent-missing-text between a doc and its truncated
    copy (explode + anti-join; reference calculate_percent_missing_text)."""
    from unstructured_spark.operators import metrics

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "text")
    out = docs.select(
        "doc_id",
        F.substring(
            "text", 1, (F.length("text") * 0.6).cast("int")
        ).alias("text"),
    )
    return metrics.percent_missing_text(out, src)


def q_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document paragraph dedup (Dolma/Gopher repetition REMOVAL,
    within-doc scope; new in r10): over the deterministic
    paragraph-structured corpus view (15-token groups joined by blank
    lines) with each multi-paragraph doc's FIRST paragraph re-appended
    at its end (so every such doc carries exactly one within-doc
    repeat), drop repeats of earlier paragraphs inside each document
    and reassemble. ZERO-shuffle plan: one projection of higher-order
    array expressions (operators/dedup.py dedup_within_doc)."""
    docs = _t(spark, sf_dir, "documents")
    pdocs = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "case when size(_t) = 0 then '' else array_join(transform("
            "sequence(0, (size(_t) + 14) div 15 - 1), "
            "i -> concat_ws(' ', slice(_t, i * 15 + 1, 15))), '\\n\\n') end"
        ).alias("_pt"),
        F.expr("concat_ws(' ', slice(_t, 1, 15))").alias("_p1"),
        F.size("_t").alias("_nt"),
    ).select(
        "doc_id",
        F.expr(
            "case when _nt > 15 then concat(_pt, '\\n\\n', _p1) "
            "else _pt end"
        ).alias("text"),
    )
    return dedup.dedup_within_doc(pdocs)


def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearized DoReMi domain reweighting (new in r10): score every
    document with the corpus bigram-LM cross-entropy (integer 1e-6
    grid), then per SOURCE compute the token share, the mean score's
    excess over the corpus mean, and the renormalized up/down-weighted
    mixture — one exponentiated-gradient step, all-integer
    (operators/sampling.py mixture_reweight). The oracle replays the
    full LM scoring plus the ppm weight chain."""
    from unstructured_spark.operators.sampling import mixture_reweight

    docs = _t(spark, sf_dir, "documents")
    ce = text_analysis.bigram_cross_entropy(docs)
    scored = ce.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        F.round(F.col("cross_entropy") * 1e6).cast("long").alias("score_q"),
        "n_bigrams",
    )
    return mixture_reweight(
        scored,
        score_col="score_q",
        token_col="n_bigrams",
        strata_col="source",
    )


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup per-document sampling weights (new in r10): exact-dup
    group size -> 1e6 div size ppm weight, so a duplicate group's total
    sampling mass equals one document and nothing is dropped. One
    fingerprint-keyed window shuffle (operators/dedup.py
    soft_dedup_weights)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(docs)


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (new in r10): per unordered
    source pair, the number of LSH near-dup candidate pairs straddling
    them — the which-corpus-overlaps-which release diagnostic. Banded
    LSH pairs + two id-keyed label joins + a |sources|^2 aggregate;
    the oracle replays the full minhash/banding pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.cross_source_dup_matrix(docs)


def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA confusion matrix (new in r10): the NB quality
    gate's predicted class vs each document's ACTUAL source — the
    calibration table a pipeline owner reads before trusting the gate
    as a filter (which sources leak into which predictions, per-class
    support). Composes the oracled nb_classify with one (predicted,
    actual) aggregate; |classes|^2 output rows."""
    from unstructured_spark.operators.classifier import nb_classify

    docs = _t(spark, sf_dir, "documents")
    seed = docs.filter(F.col("doc_id") % 10 < 3)
    scored = nb_classify(
        docs, seed, label="source", buckets=4096, max_tokens=64,
        seed_in_corpus=True,
    ).select("doc_id", "predicted")
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(
            F.col("predicted"), F.col("source").alias("actual")
        )
        .agg(F.count("*").cast("bigint").alias("docs"))
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET source round trip (new in r11): serialize every
    document as a WARC conversion record JVM-side (pure string
    expressions — Content-Length framing via octet_length), pack the
    records into 32 bucket archives, and run the distributed WARC
    parser (sources/warc.py, the Common Crawl ingest path) over the
    archive blobs. Output = one row per recovered record; the oracle
    replays the round trip as the identity over documents, so any
    framing/parse defect breaks the hash. Scale shape mirrors real
    ingest: one map-only expansion task per archive, no shuffle after
    the bucket pack."""
    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    blobs = _warc_record_buckets(docs).select(
        F.concat(F.lit("mem://warc-"), F.col("_b")).alias("path"),
        F.encode(F.array_join("_recs", ""), "UTF-8").alias("content"),
    )
    return _warc_rows_projection(parse_warc(blobs))


def _warc_record_expr(content_type: str = "text/plain"):
    """The shared JVM-side WARC conversion-record synthesis used by
    the ingest round-trip queries (plain blob, gzip blob, paths, e2e
    crawl): pure string expressions, Content-Length framed via
    octet_length."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
              "http://corpus.local/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Record-ID: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")),
        F.lit(">\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
              f"Content-Type: {content_type}\r\nContent-Length: "),
        F.octet_length(txt).cast("string"),
        F.lit("\r\n\r\n"),
        txt,
        F.lit("\r\n\r\n"),
    )


def _warc_record_buckets(
    docs: DataFrame, *, content_type: str = "text/plain"
) -> DataFrame:
    """(_b, _recs): per-bucket doc_id-ordered arrays of serialized WARC
    records — the staging all three ingest round-trip queries share.
    One map-side-combinable groupBy. Bucket id = (doc_id % 32) + 32 *
    (doc_id div 16000): ≥32-way parallel at bench scale AND bounded at
    ~500 docs per archive regardless of corpus size — real crawls ship
    MORE fixed-size shards, not bigger ones, and a corpus-scale
    collect_list row would make the synthesis stage (not the parser
    under test) the probe bottleneck.

    The pack shuffle is a USER-SPECIFIED ``repartition(par, "_b")``
    that the groupBy reuses (same key, same count — one exchange
    either way, guide §2.4), not the aggregation's own implicit
    exchange, because AQE coalesces implicit exchanges BY BYTES: the
    packed archives are kilobytes at bench scale, so every downstream
    consumer — the WARC parser, the main-content classifier — was
    funneled onto ONE task (r13 census: q_crawl_e2e ran 3 jobs / 3
    tasks total on local[32]) while 31 cores idled. Byte-based
    coalescing is the wrong cost model for expression-heavy blob
    parsing; a user repartition is exactly the AQE-exempt mechanism
    Spark provides for that. At 100 TB the bucket count is huge and
    the exchange carries the same corpus bytes the pack always
    shuffled — no extra pass at any scale."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(
            F.expr("doc_id % 32 + 32 * (doc_id div 16000)").alias("_b"),
            F.struct(
                F.col("doc_id"),
                _warc_record_expr(content_type).alias("_r"),
            ).alias("_s"),
        )
        .repartition(par, "_b")
        .groupBy("_b")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["_r"]
            ).alias("_recs")
        )
    )


def _warc_rows_projection(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "warc_type",
        F.col("n_bytes"),
        F.col("text"),
    )


def q_warc_ingest_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip WARC round trip (new in r12): same record synthesis as
    q_warc_ingest, but each record becomes its own gzip MEMBER — the
    Common Crawl .warc.gz layout — before the archives hit the
    distributed parser. This puts the member decoder
    (sources/warc.py _iter_gzip_members, where both r11 quadratics
    lived) behind a DuckDB hash oracle, not just unit tests: the
    oracle replays the round trip as the identity over documents, so
    any member-boundary or framing defect after decompression breaks
    the hash. Scale shape: one groupBy pack + one map-only
    compress+parse task per archive, no further shuffle."""
    import gzip as _gz

    import pandas as pd

    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    staged = _warc_record_buckets(docs)

    def pack(batches):
        out = []
        for pdf in batches:
            for b, recs in zip(pdf["_b"], pdf["_recs"]):
                content = b"".join(
                    # level 1: the round trip oracles the DECODER; level 9
                    # compression was 80% of the probe cell's cost
                    _gz.compress(r.encode("utf-8"), 1, mtime=0) for r in recs
                )
                out.append({"path": f"mem://warc-gz-{b}", "content": content})
                # flush incrementally: an Arrow input batch can carry
                # hundreds of archives at probe scale — buffering the
                # whole batch's output held >100 MB of objects per task
                if len(out) >= 32:
                    yield pd.DataFrame(out, columns=["path", "content"])
                    out = []
        yield pd.DataFrame(out, columns=["path", "content"])

    blobs = staged.mapInPandas(pack, "path string, content binary")
    return _warc_rows_projection(parse_warc(blobs))


def q_warc_paths_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paths-table WARC ingest (new in r12) — the 100 TB shape,
    end-to-end: pack documents into archive FILES on disk (even
    buckets per-record-gzip, odd buckets plain, so BOTH streaming
    decoders are oracled), then ingest via read_warc_paths: a paths
    table whose files are opened ON THE EXECUTOR and parsed from a
    streaming file handle (sources/files.py read_paths +
    sources/warc.py iter_warc_records_stream). Archive bytes never
    ride a DataFrame row — no 2 GB binaryFile cap, one-chunk resident
    set. The write stage and the open stage are separated by the
    ``tasks`` exchange, so files are complete before any open.
    Fixture writes are executor-local (valid on local[*]; on a real
    cluster the paths table points at shared storage and the write
    stage doesn't exist). Oracle: identity over documents."""
    import gzip as _gz
    import os as _os
    import tempfile

    import pandas as pd

    from unstructured_spark.sources.warc import read_warc_paths

    docs = _t(spark, sf_dir, "documents")
    staged = _warc_record_buckets(docs)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out_dir = _os.path.join(
        tempfile.gettempdir(), f"uspark_warc_paths_{sf_tag}"
    )

    def write(batches):
        _os.makedirs(out_dir, exist_ok=True)
        rows = []
        for pdf in batches:
            for b, recs in zip(pdf["_b"], pdf["_recs"]):
                if int(b) % 2 == 0:
                    content = b"".join(
                        _gz.compress(r.encode("utf-8"), 1, mtime=0)
                        for r in recs
                    )
                    name = f"bucket-{int(b):02d}.warc.gz"
                else:
                    content = "".join(recs).encode("utf-8")
                    name = f"bucket-{int(b):02d}.warc"
                final = _os.path.join(out_dir, name)
                tmp = final + f".tmp{_os.getpid()}"
                with open(tmp, "wb") as fh:
                    fh.write(content)
                _os.replace(tmp, final)  # atomic: readers see whole files
                rows.append({"path": final})
                if len(rows) >= 256:
                    yield pd.DataFrame(rows, columns=["path"])
                    rows = []
        yield pd.DataFrame(rows, columns=["path"])

    paths = staged.mapInPandas(write, "path string")
    return _warc_rows_projection(read_warc_paths(paths, tasks=8))


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction / boilerplate removal (new in r12)
    — the WARC→text step of a crawl pipeline (CCNet / RefinedWeb /
    Dolma run exactly this between ingest and quality filtering).
    Wrap each document in a realistic page: header/nav, breadcrumbs, a
    headline, the doc's 15-word paragraph chunks with short "Note i."
    metadata lines interleaved, a link farm, sidebar, cookie banner
    and footer — then run the jusText-shaped block classifier
    (parsers/main_content.py: integer link density, 40-char short
    threshold, nearest-decided-neighbor smoothing, headline promotion)
    distributed via operators/main_content.py. The oracle replays the
    ENTIRE decision procedure in SQL: chrome blocks are bad by
    construction (ancestor hints / 100% link density), content blocks
    classify by integer lengths + the two smoothing window rules.
    Scale shape: synthesis, parse and per-doc rollup all happen in one
    projection + one mapInPandas; the leading spread is a
    SMALL-FIXTURE rebalance only (the sf parquet is one input split,
    which serialized the whole Python classify stage onto one core —
    measured 2.5s -> 0.35s; a real corpus arrives in many splits, the
    rebalance skips itself, and no shuffle remains anywhere)."""
    from unstructured_spark.operators.main_content import (
        extract_main_content,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    return extract_main_content(_synth_crawl_pages(docs))


def _synth_crawl_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, text=page html): the deterministic realistic-page
    synthesis shared by q_main_content and the e2e crawl pipeline —
    chrome (header/nav, breadcrumbs, link farm, sidebar, cookie
    banner, footer) around a headline + the doc's 15-word paragraph
    chunks with short "Note i." metadata lines interleaved. Pure JVM
    string/array expressions; paragraphs are HTML-escaped so the
    parse round trip is the identity."""
    esc = (
        "replace(replace(replace({x}, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )
    return docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "concat("
            "'<html><body>',"
            "'<header><div class=\"logo\">Corpus</div>"
            "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>"
            "</nav></header>',"
            "'<div class=\"breadcrumbs\"><a href=\"/\">Home</a> &gt; Doc ',"
            " doc_id, '</div>',"
            "'<main><h1>Record ', doc_id, ' overview</h1>',"
            "case when size(_t) = 0 then '' else array_join("
            "  transform(sequence(0, (size(_t) + 14) div 15 - 1),"
            "    i -> concat('<p>', "
            + esc.format(x="concat_ws(' ', slice(_t, i * 15 + 1, 15))")
            + ", '</p>',"
            "      case when i < (size(_t) + 14) div 15 - 1"
            "           then concat('<p>Note ', i, '.</p>') else '' end)),"
            "  '') end,"
            "'</main>',"
            "'<div class=\"readmore\"><a href=\"/n\">continue reading one"
            "</a> <a href=\"/p\">continue reading two</a></div>',"
            "'<aside class=\"sidebar\"><h3>Related</h3>"
            "<a href=\"/r\">Other doc</a></aside>',"
            "'<div class=\"cookie-banner\">We use cookies. "
            "<a href=\"/priv\">Learn more</a></div>',"
            "'<footer><p>Copyright Corpus</p></footer></body></html>')"
        ).alias("text"),
    )


def q_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-corpus chain END TO END, hash-oracled as one query
    (new in r12): synthesize realistic HTML pages → serialize them as
    WARC response archives in-engine → run the distributed WARC parser
    (sources/warc.py) → filter text/html records → strip boilerplate
    with the jusText-shaped classifier (operators/main_content.py) →
    emit per-document corpus stats (blocks, good blocks, main chars,
    main words) and the keep flag a minimum-content quality gate would
    apply. Every stage that CCNet/RefinedWeb/Dolma-style pipelines run
    between "crawl shard" and "quality filtering" executes in the one
    plan, and the DuckDB oracle replays the composed result — the WARC
    layer contributes the identity, the classifier its full decision
    procedure, the stats plain arithmetic. Scale shape: one bounded
    groupBy pack (fixture synthesis only; real ingest reads existing
    shards) + map-only parse/classify; no other shuffle."""
    from unstructured_spark.operators.main_content import (
        extract_main_content,
    )
    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    pages = _synth_crawl_pages(docs)
    blobs = _warc_record_buckets(
        pages, content_type="text/html"
    ).select(
        F.concat(F.lit("mem://crawl-"), F.col("_b")).alias("path"),
        F.encode(F.array_join("_recs", ""), "UTF-8").alias("content"),
    )
    recovered = parse_warc(blobs).filter(
        F.col("content_type") == "text/html"
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "text",
    )
    main = extract_main_content(recovered)
    words = F.when(F.col("main_chars") == 0, F.lit(0)).otherwise(
        F.size(F.split(F.regexp_replace("main_text", "\n+", " "), " "))
    )
    return main.select(
        "doc_id",
        "n_blocks",
        "n_good",
        "main_chars",
        words.cast("bigint").alias("main_words"),
        (F.col("main_chars") >= 100).alias("kept"),
    )


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<head> metadata extraction (new in r12): synthesize pages with
    deterministic head sections — title, meta description (first ten
    words of the doc), optional robots noindex directive (doc_id%4),
    optional canonical link (absent when doc_id%5=0), optional lang
    attr (doc_id%3: en / de / absent) — and run the head-only parser
    (parsers/page_meta.py via operators/main_content.py). The
    canonical URL is the key dedup_by_url collapses syndicated copies
    on; noindex is the C4/RefinedWeb drop flag. Map-only after a
    scale-adaptive small-fixture rebalance (spread: an identity at
    real corpus scan widths); head-only parse bounds per-row cost by
    head size. Oracle replays the synthesis field-for-field."""
    from unstructured_spark.operators.main_content import (
        extract_page_metadata,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    pages = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "concat("
            "'<html', case doc_id % 3 when 0 then ' lang=\"en\"'"
            " when 1 then ' lang=\"de\"' else '' end, '><head>',"
            "'<title>Record ', doc_id, ' overview - Corpus</title>',"
            "'<meta name=\"description\" content=\"',"
            " concat_ws(' ', slice(_t, 1, 10)), '\">',"
            "case when doc_id % 4 = 0 then"
            " '<meta name=\"robots\" content=\"noindex, follow\">'"
            " else '' end,"
            "case when doc_id % 5 != 0 then concat("
            " '<link rel=\"canonical\" href=\"http://pub.corpus.local/doc/',"
            " doc_id, '\">') else '' end,"
            "'</head><body><p>body</p></body></html>')"
        ).alias("text"),
    )
    return extract_page_metadata(pages)


_ROBOTS_TXT = (
    "# corpus crawler policy\n"
    "User-agent: googlebot\n"
    "Disallow: /nogoogle/\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/pub/\n"
    "Disallow: /tmp/*\n"
    "Disallow: /*.exe$\n"
)


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate (new in r12) — the filter between a
    crawl frontier and fetching, and the retroactive opt-out pass a
    corpus build re-runs. Synthesize a 20-host frontier (six URL-path
    shapes per doc: plain page, /private/, /private/pub/, /tmp/
    wildcard, .exe$-anchored, googlebot-only-disallowed), parse one
    realistic robots.txt per host for agent "corpusbot"
    (functions/robots.py: group selection, wildcard + $-anchor rules),
    and decide per RFC 9309 longest-match (Allow wins length ties).
    Scale shape: rules = map-only parse of per-host files; decision =
    ONE broadcast host-join + JVM rlike per pair + one groupBy on the
    URL key — no window, no Python per URL. The oracle replays the
    MECHANICS: the same five star-group rules as a VALUES table,
    regex-matched per URL, winner by arg_max over the identical
    (2·len + allow) ordering."""
    from unstructured_spark.functions.robots import (
        apply_robots,
        robots_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".corpus.local"),
    )
    path = F.expr(
        "case doc_id % 6"
        " when 0 then concat('/a/doc', doc_id, '.html')"
        " when 1 then concat('/private/doc', doc_id, '.html')"
        " when 2 then concat('/private/pub/doc', doc_id, '.html')"
        " when 3 then concat('/tmp/t', doc_id)"
        " when 4 then concat('/bin/t', doc_id, '.exe')"
        " else concat('/nogoogle/doc', doc_id, '.html') end"
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), host, path).alias("url"),
    )
    robots = (
        docs.select(host.alias("host"))
        .distinct()
        .withColumn("robots_txt", F.lit(_ROBOTS_TXT))
    )
    rules = robots_rules(robots, agent="corpusbot")
    return apply_robots(urls, rules, broadcast_rules=True).select(
        "doc_id", "url", "allowed", "matched_rule"
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact HyperLogLog audit (new in r11): per-source distinct
    token estimate from 4096 integer registers vs the exact distinct
    count, with signed error ppm. The whole estimator — rho via binary
    digit counts, harmonic sum as exact power-of-two bigints, alpha in
    2^-20 fixed point, linear counting through fxln — is integer
    arithmetic, so the DuckDB oracle replays the ESTIMATE bit for bit
    (not just the exact side). operators/sketches.py."""
    from unstructured_spark.operators.sketches import hll_distinct_audit

    docs = _t(spark, sf_dir, "documents")
    return hll_distinct_audit(docs)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed exact dedup (new in r11): synthesize the classic crawl
    URL variants deterministically from doc ids (case noise, www,
    default ports, fragments, tracking params, unordered query params),
    canonicalize (functions/urls.py — pure JVM regexp/array exprs), and
    collapse to one row per canonical URL with keep-min + count. The
    step-zero dedup pass of RefinedWeb/CCNet-style pipelines; the
    oracle replays synthesis AND canonicalization in SQL."""
    from unstructured_spark.functions.urls import dedup_by_url

    docs = _t(spark, sf_dir, "documents")
    base = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("http://Example.COM/page/"), base))
        .when(v == 1, F.concat(
            F.lit("http://www.example.com/page/"), base, F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("https://example.com:443/page/"), base,
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 3).cast("string")))
        .when(v == 3, F.concat(
            F.lit("http://example.com:80/page/"), base,
            F.lit("#sec-"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(
            F.lit("http://example.com/page/"), base,
            F.lit("?b=2&a=1&gclid=xyz")))
    )
    return dedup_by_url(docs.select("doc_id", url.alias("target_uri")))


# ---------------------------------------------------------------------------
# The round-9 channel probes (probe_wire_control / probe_duckdb_version /
# probe_hugeint_wire / probe_bigint_wire) are RETIRED: the r9 external
# window validated the HUGEINT-wire diagnosis end-to-end (control and
# BIGINT-cast rows green, the deliberate HUGEINT emitter red), and
# tests/test_oracle_wire_types.py permanently pins every oracle output
# schema hugeint/decimal-free, so the bug class cannot re-enter.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the documents pipeline — per-doc text analysis enriched
    with exact-dup groups and near-dup candidates."""
    sf = SF_DEFAULT
    docs = _t(spark, sf, "documents")
    stats = text_analysis.doc_stats(docs)
    dups = dedup.exact_duplicates(docs).select(
        F.col("fingerprint"), F.col("dup_count")
    )
    pairs = dedup.lsh_candidate_pairs(docs)
    pair_counts = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("near_dup_candidates"))
    )
    return (
        stats.join(dups, "fingerprint", "left")
        .join(pair_counts, "doc_id", "left")
        .fillna({"near_dup_candidates": 0})
        .select(
            "doc_id",
            "token_count",
            "char_count",
            "unique_token_ratio",
            "quality_score",
            "fingerprint",
            "dup_count",
            "near_dup_candidates",
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ------------------------------------------------------------
        # EXTERNAL WINDOW (first 50 entries = the driver's correctness
        # window). Round-13 rotation, per the r12 verdict item 7:
        #   slots 1-3: the three queries with NO external green yet
        #     (r12-new crawl chain) — first greens due;
        #   slots 4-49: the COMPLETE r10-floor cohort (46 entries),
        #     so after this round no registry entry's last external
        #     green is older than r11;
        #   slot 50: q_ngram_jaccard_dups — the minhash+shingle
        #     staged-projection rewrite (this round's headline
        #     change) externally re-proves hash stability.
        # ------------------------------------------------------------
        # --- slots 1-3: first external greens due ---
        "q_crawl_e2e": q_crawl_e2e,
        "q_page_metadata": q_page_metadata,
        "q_robots_filter": q_robots_filter,
        # --- slots 4-49: the complete r10-floor cohort ---
        "q_dedup_paragraphs": q_dedup_paragraphs,
        "q_unigram_entropy": q_unigram_entropy,
        "q_interleave_sources": q_interleave_sources,
        "q_bloom_dedup_gate": q_bloom_dedup_gate,
        "q_token_budget": q_token_budget,
        "q_quality_cutoff": q_quality_cutoff,
        "q_corpus_shuffle": q_corpus_shuffle,
        "q_ann_recall": q_ann_recall,
        "q_datasheet": q_datasheet,
        "q_cluster_balance": q_cluster_balance,
        "q_zorder_key": q_zorder_key,
        "q_length_quantiles": q_length_quantiles,
        "q_quality_quantiles": q_quality_quantiles,
        "q_ngram_diversity": q_ngram_diversity,
        "q_bloom_merge": q_bloom_merge,
        "q_bpe_fertility": q_bpe_fertility,
        "q_cms_heavy_hitters": q_cms_heavy_hitters,
        "q_filter_attribution": q_filter_attribution,
        "q_curriculum_order": q_curriculum_order,
        "q_corpus_diff": q_corpus_diff,
        "q_remove_shared_spans": q_remove_shared_spans,
        "q_partition_elements": q_partition_elements,
        "q_chunk_by_title": q_chunk_by_title,
        "q_layout_merge": q_layout_merge,
        "q_table_eval": q_table_eval,
        "q_form_kv_pairs": q_form_kv_pairs,
        "q_asof_join": q_asof_join,
        "q_doc_stats": q_doc_stats,
        "q_exact_dups": q_exact_dups,
        "q04_order_priority_check": q04_order_priority_check,
        "q_bm25_search": q_bm25_search,
        "q_form_kv_text": q_form_kv_text,
        "q_funnel": q_funnel,
        "q_funnel_summary": q_funnel_summary,
        "q_gopher_quality": q_gopher_quality,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_image_dhash_pairs": q_image_dhash_pairs,
        "q_leakage_split": q_leakage_split,
        "q_ngram_repetition": q_ngram_repetition,
        "q_overlap_audit": q_overlap_audit,
        "q_pack_sequences": q_pack_sequences,
        "q_readability": q_readability,
        "q_srp_ann_topk": q_srp_ann_topk,
        "q_stratified_sample": q_stratified_sample,
        "q_temperature_mix": q_temperature_mix,
        "q_token_kl_drift": q_token_kl_drift,
        # --- slot 50: changed in r13 (hash-stability re-proof) ---
        "q_ngram_jaccard_dups": q_ngram_jaccard_dups,
        # --- tail: below the 50-slot external window ---
        "q_warc_ingest_gz": q_warc_ingest_gz,
        "q_warc_paths_ingest": q_warc_paths_ingest,
        "q_main_content": q_main_content,
        "q_dedup_within_doc": q_dedup_within_doc,
        "q_warc_ingest": q_warc_ingest,
        "q03_shipping_priority": q03_shipping_priority,
        "q07_nation_volume": q07_nation_volume,
        "q09_product_type_profit": q09_product_type_profit,
        "q_nb_classify": q_nb_classify,
        "q_range_join": q_range_join,
        "q_od_map": q_od_map,
        "q12_late_lines": q12_late_lines,
        "q14_promo_revenue": q14_promo_revenue,
        "q19_bracket_revenue": q19_bracket_revenue,
        "q_box_dedup": q_box_dedup,
        "q_clean_inner_boxes": q_clean_inner_boxes,
        "q_embed_text_agg": q_embed_text_agg,
        "q_ocr_supplement": q_ocr_supplement,
        "q_ivfpq_topk": q_ivfpq_topk,
        "q_salted_user_value": q_salted_user_value,
        "q_weighted_sample": q_weighted_sample,
        "q_cohort_retention": q_cohort_retention,
        "q_value_outliers": q_value_outliers,
        "q_metrics_grouped": q_metrics_grouped,
        "q_quantized_codes": q_quantized_codes,
        "q_random_projection": q_random_projection,
        "q_pq_topk": q_pq_topk,
        "q_drop_keep_best": q_drop_keep_best,
        "q_shared_ngram_spans": q_shared_ngram_spans,
        "q_dedup_incremental": q_dedup_incremental,
        "q08_market_share": q08_market_share,
        "q10_returned_items": q10_returned_items,
        "q13_order_count_distribution": q13_order_count_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_orders": q18_large_orders,
        "q21_sole_late_supplier": q21_sole_late_supplier,
        "q22_idle_customers": q22_idle_customers,
        "q11_important_stock": q11_important_stock,
        "q16_supplier_count": q16_supplier_count,
        "q20_excess_stock_suppliers": q20_excess_stock_suppliers,
        "q_dup_clusters": q_dup_clusters,
        "q_drop_near_duplicates": q_drop_near_duplicates,
        "q_contaminated_docs": q_contaminated_docs,
        "q_pii_stats": q_pii_stats,
        "q_redacted_docs": q_redacted_docs,
        "q_dsir_importance": q_dsir_importance,
        "q05_region_revenue": q05_region_revenue,
        "q06_forecast_revenue": q06_forecast_revenue,
        "q_bpe_top_pairs": q_bpe_top_pairs,
        "q_mixture_reweight": q_mixture_reweight,
        "q_soft_dedup_weights": q_soft_dedup_weights,
        "q_cross_source_dups": q_cross_source_dups,
        "q_nb_confusion": q_nb_confusion,
        "q_chunk_fixed": q_chunk_fixed,
        "q_cleaned_docs": q_cleaned_docs,
        "q_doc_quantiles": q_doc_quantiles,
        "q_edit_distance": q_edit_distance,
        "q_element_type_match": q_element_type_match,
        "q_embed_centroids": q_embed_centroids,
        "q_embed_neardup": q_embed_neardup,
        "q_embed_topk": q_embed_topk,
        "q_eval_summary": q_eval_summary,
        "q_events_daily": q_events_daily,
        "q_events_json": q_events_json,
        "q_events_last_per_user": q_events_last_per_user,
        "q_events_moving_avg": q_events_moving_avg,
        "q_events_sessionize": q_events_sessionize,
        "q_hash_embeddings": q_hash_embeddings,
        "q_ivf_ann_topk": q_ivf_ann_topk,
        "q_langid": q_langid,
        "q_lsh_candidate_pairs": q_lsh_candidate_pairs,
        "q_minhash_signatures": q_minhash_signatures,
        "q_nation_acctbal_rollup": q_nation_acctbal_rollup,
        "q_order_priority": q_order_priority,
        "q_part_brand_stats": q_part_brand_stats,
        "q_percent_missing": q_percent_missing,
        "q_remove_boilerplate": q_remove_boilerplate,
        "q_simhash": q_simhash,
        "q_simhash_pairs": q_simhash_pairs,
        "q_tfidf_top_terms": q_tfidf_top_terms,
        "q_token_freq": q_token_freq,
        "q_token_shards": q_token_shards,
        "q_top_customers": q_top_customers,
        "q_vocab_coverage": q_vocab_coverage,
        "q_winnow_fingerprints": q_winnow_fingerprints,
        "q_kmeans_clusters": q_kmeans_clusters,
        "q_semantic_dedup": q_semantic_dedup,
        "q_perplexity_buckets": q_perplexity_buckets,
        "q_bigram_cross_entropy": q_bigram_cross_entropy,
        "q01_pricing_summary": q01_pricing_summary,
        "q02_min_cost_supplier": q02_min_cost_supplier,
        "q_url_dedup": q_url_dedup,
        "q_hll_distinct": q_hll_distinct,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles — same math, same column names/types.
# md5-based hashing makes minhash/simhash portable:
#   Spark  conv(substr(md5(t),1,15),16,10)::bigint
#   DuckDB cast('0x'||substr(md5(t),1,15) as bigint)
# ---------------------------------------------------------------------------

_TOKHASH = "cast(('0x' || substr(md5({t}),1,15)) as bigint)"

_MINHASH_SIG_CTE = """
with toks as (
  select doc_id, string_split(trim(text), ' ') as toks
  from documents
), shingled as (
  select doc_id,
    list_distinct([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) as shingles
  from toks
), sigs as (
  select doc_id,
    [list_min(list_transform(shingles,
       t -> ((1000003 + 2 * h) * (cast(('0x' || substr(md5(t),1,15)) as bigint) % 2147483647)
             + 17 + 31 * h) % 2147483647))
     for h in range(0, 16)] as sig
  from shingled
)
"""

_LSH_PAIRS_CTE = _MINHASH_SIG_CTE + """
, bands as (
  select doc_id, sig, b, sig[2*b+1] || ':' || sig[2*b+2] as band_key
  from sigs, (select unnest(range(0, 8)) as b)
), pairs as (
  select distinct l.doc_id as doc_a, r.doc_id as doc_b, l.sig as sig_a, r.sig as sig_b
  from bands l join bands r
    on l.b = r.b and l.band_key = r.band_key and l.doc_id < r.doc_id
)
"""


# incremental-dedup oracle base: signatures + bands over ALL docs,
# even doc_ids as the historical index, odd as the new batch;
# `newdocs` = vs-history survivors, `pairs2` = intra-batch candidates
_LSH_SPLIT_CTE = _MINHASH_SIG_CTE + """
, bands as (
  select doc_id, sig, b, sig[2*b+1] || ':' || sig[2*b+2] as band_key
  from sigs, (select unnest(range(0, 8)) as b)
), hits as (
  select distinct n.doc_id as nd
  from bands n join bands h
    on n.b = h.b and n.band_key = h.band_key
  where n.doc_id % 2 = 1 and h.doc_id % 2 = 0
    and len(list_filter(range(1, 17), i -> n.sig[i] = h.sig[i])) / 16.0
        >= 0.5
), newdocs as (
  select doc_id, text from documents
  where doc_id % 2 = 1 and doc_id not in (select nd from hits)
)
"""


# verified near-dup cluster labels: LSH candidates -> trigram-Jaccard
# >= 0.5 verify -> recursive transitive closure -> min-reachable label.
# ONE definition shared by the q_drop_* oracles so the verify
# threshold / shingle size / CC formulation can't silently diverge.
_VERIFIED_LABELS_CTE = _LSH_PAIRS_CTE.replace("with ", "with recursive ", 1) + """
, sh as (
  select doc_id,
         list_distinct([t.toks[i] || '_' || t.toks[i+1] || '_' || t.toks[i+2]
                        for i in range(1, len(t.toks) - 1)]) as sh
  from (select doc_id, string_split(trim(text), ' ') as toks
        from documents) t
), vpairs as (
  select doc_a, doc_b
  from pairs
  join sh a on a.doc_id = doc_a
  join sh b on b.doc_id = doc_b
  where round(len(list_intersect(a.sh, b.sh)) * 1.0 /
              len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
), edges as (
  select doc_a as a, doc_b as b from vpairs
  union
  select doc_b as a, doc_a as b from vpairs
), reach as (
  select a, b from edges
  union
  select r.a, e.b from reach r join edges e on r.b = e.a
    where e.b <> r.a
), labels as (
  select a as doc, least(a, min(b)) as lbl from reach group by a
)
"""


def _partition_elements_sql() -> str:
    """SQL replay of the .txt partition spine (q_partition_elements):
    CASE classification over the reference predicate chain (bullet →
    email → US address → numbered list → narrative → title → Text),
    stopword-profile language argmax, sha256 hash ids, element_index 0.
    Predicate lexicons/regexes are imported from the package so engine
    and oracle can't drift. Precondition (holds for the synthetic
    corpus, asserted by the where clause shape): documents are
    single-paragraph (no newlines), so each doc yields exactly one
    element and the hierarchy fold leaves parent_id NULL."""
    from unstructured_spark.functions.patterns import (
        _BULLET_CLASS,
        EMAIL_ADDRESS,
        NUMBERED_LIST,
        US_CITY_STATE_ZIP,
    )
    from unstructured_spark.operators.metadata import _LANG_MARKERS
    from unstructured_spark.parsers.classify import (
        _COMMON_VERBS,
        _VERB_SUFFIX_FALSE_POSITIVES,
    )

    def q(p: str) -> str:  # escape single quotes for SQL literals
        return p.replace("'", "''")

    verbs = ", ".join(f"'{v}'" for v in sorted(_COMMON_VERBS))
    fps = ", ".join(f"'{v}'" for v in sorted(_VERB_SUFFIX_FALSE_POSITIVES))
    # argmax with Spark array_max struct semantics (score, then lang
    # lexicographically) via a sortable zero-padded string
    lang_keys = ", ".join(
        "lpad(cast(len(list_intersect(ltoks, [%s])) as varchar), 10, '0') || '%s'"
        % (", ".join(f"'{m}'" for m in markers), lang)
        for lang, markers in _LANG_MARKERS.items()
    )
    bullet_re = q(f"^[{_BULLET_CLASS}]( |$)")
    sent_split = "[.!?] |[.!?]$|[。！？։؟۔।።]"
    return f"""
with base as (
  select cast(doc_id as varchar) as doc_id, trim(text) as t,
         'doc_' || cast(doc_id as varchar) || '.txt' as fname
  from documents
  where trim(text) != ''
), feats as (
  select *,
    string_split_regex(t, '\\s+') as toks,
    string_split_regex(lower(t), '\\s+') as ltoks,
    regexp_split_to_array(t, '{sent_split}') as sparts,
    regexp_replace(t, '\\s', '', 'g') as nonspace
  from base
), preds as (
  select doc_id, t, fname, toks, ltoks,
    len(toks) as wc,
    len(list_filter(sparts, p -> trim(p) != '' and
        len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 3)) as sent3,
    len(list_filter(sparts, p -> trim(p) != '' and
        len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 5)) as sent5,
    regexp_full_match(t, '[0-9.,$%() \\-]+') and regexp_matches(t, '[0-9]') as numeric_,
    (len(nonspace) > 0 and
     cast(len(regexp_replace(nonspace, '[^\\p{{L}}]', '', 'g')) as double)
       / len(nonspace) >= 0.5) as alpha_ok,
    -- exceeds_cap_ratio, reference text_type.py:236-267: multi-
    -- sentence exempt; all-caps exceeds; no alpha tokens exceeds;
    -- capitalized = istitle-or-isupper over ALPHA-ONLY tokens
    (case when len(list_filter(sparts, p -> trim(p) != '' and
            len(list_filter(string_split_regex(trim(p), '\\s+'), w -> w != '')) >= 3)) > 1
        then false
      when t = upper(t) and regexp_matches(t, '\\p{{Lu}}') then true
      when len(list_filter(toks, w -> regexp_full_match(w, '\\p{{L}}+'))) = 0 then true
      else cast(len(list_filter(toks, w -> regexp_full_match(w,
                    '\\p{{Lu}}(\\p{{Ll}}*|\\p{{Lu}}*)'))) as double)
           / len(list_filter(toks, w -> regexp_full_match(w, '\\p{{L}}+'))) > 0.5
     end) as caps_exceed,
    (len(list_intersect(ltoks, [{verbs}])) > 0
     or len(list_filter(regexp_extract_all(t, '(?i)\\b\\p{{L}}{{3,}}(?:ing|ed)\\b'),
             m -> not list_contains([{fps}], lower(m)))) > 0) as has_verb,
    regexp_matches(t, '{bullet_re}') as bullet_,
    regexp_full_match(t, '{q(EMAIL_ADDRESS)}') as email_,
    regexp_full_match(t, '{q(US_CITY_STATE_ZIP)}') as zip_,
    regexp_matches(t, '{q(NUMBERED_LIST)}') as numlist_
  from feats
), typed as (
  select doc_id, t, fname, ltoks,
    case
      when bullet_ then 'ListItem'
      when email_ then 'EmailAddress'
      when zip_ then 'Address'
      when numlist_ then 'ListItem'
      when (not numeric_) and not caps_exceed
           and alpha_ok and (has_verb or sent3 >= 2) then 'NarrativeText'
      when wc <= 12 and sent5 <= 1 and (not numeric_) and alpha_ok
           and not t like '%,'
           and not (t = upper(t) and regexp_matches(t, '\\p{{Lu}}')
                    and regexp_matches(t, '[^\\w\\s]$')) then 'Title'
      else 'Text'
    end as type
  from preds
), langed as (
  select *,
    case when len(ltoks) < 5 then 'eng'
         else substr(greatest({lang_keys}), 11) end as lang
  from typed
)
select doc_id, cast(0 as bigint) as element_index,
       substr(sha256(fname || t || '' || '0'), 1, 32) as element_id,
       type, t as text, lang as languages,
       cast(null as varchar) as parent_id
from langed
"""


def _dhash_pairs_sql() -> str:
    """Brute-force SQL replay of q_image_dhash_pairs: identical grid
    bytes, identical 9x8 nearest-neighbor source cells, identical
    64-bit dhash arithmetic (bit 63 as the int64 min constant), pairs
    by plain crossjoin + bit_count(xor)."""

    def byte(r: int, c: int) -> str:
        b = (
            f"cast(('0x'||substr(md5('img:'||cast((d//4) as varchar)||':'||'{r}'),"
            f" {c * 2 + 1}, 2)) as bigint)"
        )
        b = (
            f"(case when (d%4) in (1,3) and {int(r == 0)} = 1"
            f" then 255 - {b} else {b} end)"
        )
        return (
            f"(case when (d%4) >= 2 and {int(r == 6)} = 1"
            f" then 255 - {b} else {b} end)"
        )

    terms = []
    for r2 in range(8):
        for c2 in range(8):
            idx = r2 * 8 + c2
            val = "(-9223372036854775807 - 1)" if idx == 63 else str(1 << idx)
            terms.append(
                f"case when {byte(r2 * 2, (c2 * 16) // 9)}"
                f" < {byte(r2 * 2, ((c2 + 1) * 16) // 9)} then {val} else 0 end"
            )
    expr = " + ".join(terms)
    return f"""
        with base as (select cast(doc_id as bigint) as d from documents),
        h as (select d as doc_id, ({expr}) as dhash from base)
        select a.doc_id as doc_a, b.doc_id as doc_b,
               cast(bit_count(xor(a.dhash, b.dhash)) as bigint) as hamming
        from h a join h b on a.doc_id < b.doc_id
        where bit_count(xor(a.dhash, b.dhash)) <= 8
    """


# ANN oracle chains, hoisted so q_ann_recall can compose them as CTEs
_ORACLE_EMBED_TOPK = """
            with q as (
              select vec_id as query_id, embedding::double[] as qv
              from embeddings where vec_id < 10
            ), c as (
              select vec_id as neighbor_id, embedding::double[] as cv
              from embeddings
            ), scored as (
              select query_id, neighbor_id,
                     round(
                       list_aggregate(list_transform(range(1, 65),
                         i -> qv[i] * cv[i]), 'sum')
                       / (sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))
                          * sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum'))),
                       6) as cosine_sim
              from c cross join q
              where neighbor_id <> query_id
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                                           order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """

_ORACLE_IVF_TOPK = """
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), seeds as (
              select vec_id as list_id, e as ce, nrm as cn
              from normed order by vec_id limit 16
            ), assign as (
              select vec_id, e, nrm, list_id from (
                select n.vec_id, n.e, n.nrm, s.list_id,
                  row_number() over (partition by n.vec_id order by
                    list_aggregate(list_transform(range(1, 65), i -> n.e[i] * s.ce[i]), 'sum')
                      / (n.nrm * s.cn) desc, s.list_id desc) as rn
                from normed n cross join seeds s
              ) where rn = 1
            ), probes as (
              select vec_id as query_id, e as qe, nrm as qn, list_id from (
                select n.vec_id, n.e, n.nrm, s.list_id,
                  row_number() over (partition by n.vec_id order by
                    list_aggregate(list_transform(range(1, 65), i -> n.e[i] * s.ce[i]), 'sum')
                      / (n.nrm * s.cn) desc, s.list_id desc) as rn
                from normed n cross join seeds s
                where n.vec_id < 10
              ) where rn <= 4
            ), scored as (
              select p.query_id, a.vec_id as neighbor_id,
                round(list_aggregate(list_transform(range(1, 65), i -> p.qe[i] * a.e[i]), 'sum')
                      / (p.qn * a.nrm), 6) as cosine_sim
              from probes p join assign a on p.list_id = a.list_id
              where a.vec_id <> p.query_id
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """


def _bpe_fertility_oracle() -> str:
    """Generate the q_bpe_fertility oracle: replay the frozen-merge BPE
    encoder as chained replace() steps over \\x01-wrapped symbol
    strings (each symbol is ``\\x01sym\\x01``, so adjacent symbols
    share no delimiter characters and one non-overlapping replace pass
    per merge is exhaustive — see fertility_by_stratum's determinism
    note), then weight each vocabulary word's token count by its
    per-source frequency."""

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "''")

    steps, prev = [], "e0"
    for i, (a, b, _) in enumerate(_FROZEN_MERGES):
        cur = f"e{i + 1}"
        pat = f"e'\\x01{esc(a)}\\x01\\x01{esc(b)}\\x01'"
        rep = f"e'\\x01{esc(a)}{esc(b)}\\x01'"
        steps.append(
            f"{cur} as (select word, replace(s, {pat}, {rep}) as s from {prev})"
        )
        prev = cur
    chain = ",\n            ".join(steps)
    return f"""
            with wc as (
              select source, w as word, cast(count(*) as bigint) as cnt
              from (
                select source, unnest(list_filter(
                  string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by source, w
            ),
            words as (select distinct word from wc),
            e0 as (select word,
                   e'\\x01' || regexp_replace(word, '(.)', e'\\\\1\\x01\\x01', 'g')
                   || '</w>' || e'\\x01' as s
                   from words),
            {chain},
            tok as (select word,
                    (length(s) - length(replace(s, e'\\x01', ''))) // 2 as ntok
                    from {prev})
            select wc.source,
                   cast(sum(wc.cnt) as bigint) as words,
                   cast(sum(wc.cnt * tok.ntok) as bigint) as bpe_tokens,
                   (cast(sum(wc.cnt * tok.ntok) as bigint) * 1000000)
                     // cast(sum(wc.cnt) as bigint) as fertility_ppm
            from wc join tok using (word)
            group by wc.source
        """


def oracle_sql() -> dict[str, str]:
    return {
        "q_bpe_fertility": _bpe_fertility_oracle(),
        "q_filter_attribution": """
            with base as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000 as doc_id, text
              from documents where doc_id % 31 = 0
            ), aug as (
              select doc_id,
                case when cast(('0x' || substr(md5(text), 1, 15)) as bigint)
                          % 7 = 0
                     then text || ' contact admin@example.com'
                               || ' tel (555) 123-4567'
                     when cast(('0x' || substr(md5(text), 1, 15)) as bigint)
                          % 13 = 1
                     then text || ' {var x = 1;}'
                     else text end as text
              from base
            ), w as (
              select doc_id, text,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '') as ws,
                list_filter(list_transform(string_split(text, chr(10)),
                                           x -> trim(x)), x -> x <> '') as ls
              from aug
            ), s as (
              select doc_id, text,
                len(ws) as wc, len(ls) as lc,
                coalesce(list_aggregate(list_transform(ws, x -> length(x)),
                                        'sum'), 0) as wchars,
                len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                  as alpha,
                len(list_filter(ws, x -> list_contains(
                  ['the','be','to','of','and','that','have','with','a','in',
                   'it','on'], lower(x)))) as stop_cnt,
                length(text) - length(replace(text, '#', '')) as hash_cnt,
                len(string_split(text, '...')) - 1 as ell_cnt,
                len(list_filter(ls, x -> regexp_matches(x, '^[-*•‣⁃]')))
                  as bullet_lines,
                len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$')))
                  as ell_lines
              from w
            ), g as (
              select doc_id, text,
                ((wc between 20 and 100000)
                 and ((case when wc > 0 then wchars / wc else 0.0 end)
                      between 3.0 and 10.0)
                 and ((case when wc > 0 then (hash_cnt + ell_cnt) / wc
                            else 0.0 end) <= 0.1)
                 and ((case when lc > 0 then bullet_lines / lc
                            else 0.0 end) <= 0.9)
                 and ((case when lc > 0 then ell_lines / lc
                            else 0.0 end) <= 0.3)
                 and ((case when wc > 0 then alpha / wc
                            else 0.0 end) >= 0.8)
                 and (stop_cnt >= 1)) as gopher_keep,
                ((lower(text) not like '%lorem ipsum%')
                 and (strpos(text, '{') = 0)
                 and (len(list_filter(string_split_regex(text, '[.!?]'),
                                      s2 -> trim(s2) <> '')) >= 1))
                  as c4_keep
              from s
            ), cands as (
              select doc_id, unnest(regexp_extract_all(text, '""" + _P_CC + """'))
                as c
              from aug
            ), rd as (
              select doc_id,
                     reverse(regexp_replace(c, '[^0-9]', '', 'g')) as rd
              from cands
            ), lu as (
              select doc_id from rd where
                list_sum([case when i % 2 = 0 then
                    case when cast(rd[i] as int) * 2 > 9
                         then cast(rd[i] as int) * 2 - 9
                         else cast(rd[i] as int) * 2 end
                  else cast(rd[i] as int) end
                  for i in range(1, length(rd) + 1)]) % 10 = 0
            ), cc as (
              select doc_id, cast(count(*) as bigint) as credit_cards
              from lu group by doc_id
            ), p as (
              select a.doc_id,
                cast(len(regexp_extract_all(a.text, '""" + _P_EMAIL + """'))
                     as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_PHONE + """'))
                       as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_IP + """'))
                       as bigint)
                + cast(len(regexp_extract_all(a.text, '""" + _P_SSN + """'))
                       as bigint)
                + coalesce(cc.credit_cards, 0) as pii_total
              from aug a left join cc using (doc_id)
            ), d as (
              select doc_id,
                doc_id <> min(doc_id) over (partition by
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                  as is_exact_dup
              from aug
            )
            select g.doc_id, g.gopher_keep, g.c4_keep,
                   cast(p.pii_total as bigint) as pii_total, d.is_exact_dup,
                   case when not g.gopher_keep then 'gopher'
                        when not g.c4_keep then 'c4'
                        when p.pii_total > 0 then 'pii'
                        when d.is_exact_dup then 'exact_dup'
                        else 'keep' end as verdict
            from g join p using (doc_id) join d using (doc_id)
        """,
        "q_cms_heavy_hitters": """
            with words as (
              select w as token, cast(count(*) as bigint) as n
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ),
            grid(r) as (values (0), (1), (2), (3)),
            sk as (
              select g.r,
                     cast(('0x' || substr(md5('cms' || g.r || ':' || w.token),
                                          1, 15)) as bigint) % 1024 as b,
                     cast(sum(w.n) as bigint) as cnt
              from words w cross join grid g
              group by 1, 2
            ),
            top as (
              select token, n from words
              order by n desc, token asc limit 50
            )
            select t.token,
                   t.n as exact_cnt,
                   cast(min(sk.cnt) as bigint) as cms_est,
                   ((cast(min(sk.cnt) as bigint) - t.n) * 1000000) // t.n
                     as overcount_ppm
            from top t
            cross join grid g
            join sk on sk.r = g.r
                   and sk.b = cast(('0x' || substr(md5('cms' || g.r || ':'
                                   || t.token), 1, 15)) as bigint) % 1024
            group by t.token, t.n
        """,
                "q_nb_confusion": _NB_RANKED_CTE + """
            , pred as (
              select doc_id,
                     max(case when rn = 1 then cls end) as predicted
              from ranked group by doc_id
            )
            select p.predicted,
                   d.source as actual,
                   cast(count(*) as bigint) as docs
            from pred p join documents d using (doc_id)
            group by 1, 2
        """,
        # the ESTIMATOR itself replays bit for bit: integer rho via
        # bin(), exact power-of-two harmonic sum, fixed-point alpha,
        # fxln linear counting — not just the exact side
        "q_hll_distinct": f"""
            with tok as (
              -- regexp split matches Spark's \\s+ tokenizer exactly
              -- (string_split ' ' would silently diverge on any tab /
              -- newline / double space in a future fixture)
              select source,
                     unnest(list_filter(
                       regexp_split_to_array(trim(coalesce(text, '')),
                                             '\\s+'),
                       x -> x != '')) as token
              from documents
            ), h as (
              select source,
                     cast(('0x' || substr(md5(token), 1, 15)) as bigint)
                       as hv
              from tok
            ), r as (
              select source, hv % 4096 as j,
                     case when hv // 4096 > 0
                          then 49 - length(bin(hv // 4096))
                          else 49 end as rho
              from h
            ), regs as (
              select source, j, max(rho) as m_j from r group by source, j
            ), agg as (
              select source,
                     count(*) as nregs,
                     cast(sum(1::bigint << (49 - m_j)) as bigint)
                       as spresent
              from regs group by source
            ), staged as (
              select source,
                     spresent + (4096 - nregs) * (1::bigint << 49) as s,
                     4096 - nregs as v
              from agg
            ), rawd as (
              select source, v,
                     cast((cast({_HLL_ALPHA_Q} as hugeint) * 4096 * 4096
                           * (1::bigint << 49)) // s // 1048576 as bigint)
                       as raw
              from staged
            ), lined as (
              select source, v, raw,
                     {fxln_select_sql("greatest(v, 1)", "lv_")}
              from rawd
            ), est as (
              select source,
                     case when v > 0 and raw <= 10240
                          then (4096 * ({_HLL_LNM} - lv_ln)) // 2147483648
                          else raw end as de
              from lined
            ), exact as (
              select source,
                     cast(count(distinct token) as bigint) as exact_distinct
              from tok group by source
            )
            select est.source,
                   cast(est.de as bigint) as distinct_est,
                   e.exact_distinct,
                   cast((est.de - e.exact_distinct) * 1000000
                        // e.exact_distinct as bigint) as err_ppm
            from est join exact e using (source)
        """,
        # full replay: the same deterministic URL-variant synthesis,
        # then every canonicalization step with the same regexes
        "q_url_dedup": r"""
            with u as (
              select doc_id,
                     case doc_id % 5
                       when 0 then 'http://Example.COM/page/'
                                   || (doc_id % 100)
                       when 1 then 'http://www.example.com/page/'
                                   || (doc_id % 100) || '/'
                       when 2 then 'https://example.com:443/page/'
                                   || (doc_id % 100)
                                   || '?utm_source=feed&id=' || (doc_id % 3)
                       when 3 then 'http://example.com:80/page/'
                                   || (doc_id % 100) || '#sec-' || doc_id
                       else 'http://example.com/page/' || (doc_id % 100)
                                   || '?b=2&a=1&gclid=xyz'
                     end as url
              from documents
            ), s as (
              select doc_id, regexp_replace(url, '#.*', '') as u1 from u
            ), parts as (
              select doc_id,
                -- DuckDB regexp_extract is NULL on no match where
                -- Spark's returns '' — coalesce to keep parity
                coalesce(regexp_extract(u1,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '') as host0,
                coalesce(regexp_extract(u1,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')
                  as path0,
                coalesce(regexp_extract(u1, '\?([^#]*)', 1), '') as q
              from s
            ), norm as (
              select doc_id,
                regexp_replace(regexp_replace(lower(host0),
                  '^www\.', ''), ':(80|443)$', '') as host,
                regexp_replace(path0, '/+$', '') as path,
                -- array_to_string of an EMPTY list is NULL in DuckDB
                -- (Spark array_join gives '') — coalesce for parity
                coalesce(array_to_string(list_sort(list_filter(
                  string_split(q, '&'),
                  p -> p != '' and not regexp_matches(p,
                    '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))), '&'), '')
                  as params
              from parts
            ), canon as (
              select doc_id,
                     'http://' || host || path
                     || case when params = '' then ''
                             else '?' || params end as canonical_url
              from norm
            )
            select canonical_url,
                   cast(min(doc_id) as bigint) as keep_id,
                   cast(count(*) as bigint) as dup_count
            from canon group by 1
        """,
        # round trip is the identity over documents: any framing or
        # parse defect in the WARC source breaks this hash
        "q_warc_ingest": """
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """,
        # gzip/paths round trips recover the identical record set: the
        # oracle is the same identity over documents — any defect in
        # the gzip member decoder or the streaming file-handle
        # assembler surfaces as a hash break against it
        "q_warc_ingest_gz": """
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """,
        "q_warc_paths_ingest": """
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """,
        # head-synthesis replay: every field is a deterministic
        # function of (doc_id, first ten words)
        "q_page_metadata": """
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            )
            select doc_id,
                   'Record ' || doc_id || ' overview - Corpus' as title,
                   array_to_string(w[1:10], ' ') as description,
                   case when doc_id % 5 != 0 then
                     'http://pub.corpus.local/doc/' || doc_id end
                     as canonical_url,
                   case doc_id % 3 when 0 then 'en' when 1 then 'de' end
                     as lang,
                   case when doc_id % 4 = 0 then 'noindex, follow' end
                     as robots_meta,
                   doc_id % 4 = 0 as noindex
            from t
        """,
        # replays the robots MECHANICS: the five star-group rules as a
        # VALUES table, regex-matched per URL path, winner by arg_max
        # over the same (2*len + allow) ordering, no-match => allowed
        "q_robots_filter": """
            with u as (
              select doc_id,
                     'http://h' || (doc_id % 20) || '.corpus.local' as base,
                     case doc_id % 6
                       when 0 then '/a/doc' || doc_id || '.html'
                       when 1 then '/private/doc' || doc_id || '.html'
                       when 2 then '/private/pub/doc' || doc_id || '.html'
                       when 3 then '/tmp/t' || doc_id
                       when 4 then '/bin/t' || doc_id || '.exe'
                       else '/nogoogle/doc' || doc_id || '.html'
                     end as path
              from documents
            ), r(pattern, rx, rlen, allow) as (
              values ('/private/',     '^/private/',      9,  false),
                     ('/private/pub/', '^/private/pub/',  13, true),
                     ('/tmp/*',        '^/tmp/.*',        6,  false),
                     ('/*.exe$',       '^/.*\\.exe$',     7,  false)
            ), m as (
              select u.doc_id, u.base || u.path as url,
                     arg_max(struct_pack(allow := r.allow,
                                         pattern := r.pattern),
                             r.rlen * 2 + cast(r.allow as int)) as w
              from u left join r on regexp_matches(u.path, r.rx)
              group by u.doc_id, u.base || u.path
            )
            select doc_id, url,
                   coalesce(w.allow, true) as allowed,
                   w.pattern as matched_rule
            from m
        """,
        # the composed crawl chain: WARC layer = identity, classifier
        # = the same decision procedure as q_main_content's oracle,
        # stats = plain arithmetic over the good blocks
        "q_crawl_e2e": """
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            ), c as (
              select doc_id, 0 as seq,
                     'Record ' || doc_id || ' overview' as btext
              from t
              union all
              select doc_id, 2 * i + 1,
                     array_to_string(w[15 * i + 1 : 15 * i + 15], ' ')
              from t, unnest(range(0, (len(w) + 14) // 15)) as u(i)
              union all
              select doc_id, 2 * i + 2, 'Note ' || i || '.'
              from t, unnest(range(0, (len(w) + 14) // 15 - 1)) as u(i)
            ), g as (
              select doc_id, seq, btext, length(btext) >= 40 as is_long
              from c
            ), cls as (
              select doc_id, seq, btext,
                     is_long
                     or (seq = 0 and coalesce(
                          bool_or(is_long) over (
                            partition by doc_id order by seq
                            rows between 1 following
                                     and unbounded following),
                          false))
                     or (seq > 0
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between unbounded preceding
                                        and 1 preceding), false)
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between 1 following
                                        and unbounded following), false))
                       as good
              from g
            ), agg as (
              select doc_id,
                     cast(8 + count(*) as int) as n_blocks,
                     cast(count(*) filter (where good) as int) as n_good,
                     cast(length(coalesce(string_agg(btext,
                            chr(10) || chr(10) order by seq)
                            filter (where good), '')) as bigint)
                       as main_chars,
                     cast(coalesce(sum(len(string_split(btext, ' ')))
                            filter (where good), 0) as bigint)
                       as main_words
              from cls
              group by doc_id
            )
            select doc_id, n_blocks, n_good, main_chars, main_words,
                   main_chars >= 100 as kept
            from agg
        """,
        # replays the WHOLE main-content decision procedure: the 8
        # chrome blocks are bad by construction (ancestor hint / 100%
        # link density), so only the content sequence (heading, chunk,
        # note) needs classifying — long (norm >= 40 chars) = decided
        # good; heading good iff any long follows (headline
        # promotion); other shorts good iff a long exists on BOTH
        # sides (nearest decided neighbor elsewhere is page chrome =
        # bad). Seqs: heading 0, chunk i at 2i+1, note i at 2i+2.
        "q_main_content": """
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            ), c as (
              select doc_id, 0 as seq,
                     'Record ' || doc_id || ' overview' as btext
              from t
              union all
              select doc_id, 2 * i + 1,
                     array_to_string(w[15 * i + 1 : 15 * i + 15], ' ')
              from t, unnest(range(0, (len(w) + 14) // 15)) as u(i)
              union all
              select doc_id, 2 * i + 2, 'Note ' || i || '.'
              from t, unnest(range(0, (len(w) + 14) // 15 - 1)) as u(i)
            ), g as (
              select doc_id, seq, btext, length(btext) >= 40 as is_long
              from c
            ), cls as (
              select doc_id, seq, btext,
                     is_long
                     or (seq = 0 and coalesce(
                          bool_or(is_long) over (
                            partition by doc_id order by seq
                            rows between 1 following
                                     and unbounded following),
                          false))
                     or (seq > 0
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between unbounded preceding
                                        and 1 preceding), false)
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between 1 following
                                        and unbounded following), false))
                       as good
              from g
            )
            select doc_id,
                   cast(8 + count(*) as int) as n_blocks,
                   cast(count(*) filter (where good) as int) as n_good,
                   cast(length(coalesce(string_agg(btext,
                          chr(10) || chr(10) order by seq)
                          filter (where good), '')) as bigint)
                     as main_chars,
                   coalesce(string_agg(btext, chr(10) || chr(10)
                          order by seq) filter (where good), '')
                     as main_text
            from cls
            group by doc_id
        """,
        "q_soft_dedup_weights": """
            with fp as (
              select doc_id,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g'))))
                       as f
              from documents
            ), counts as (
              select f, count(*) as n from fp group by f
            )
            select fp.doc_id,
                   cast(c.n as bigint) as dup_count,
                   cast(1000000 // c.n as bigint) as weight_ppm
            from fp join counts c using (f)
        """,
        "q_cross_source_dups": _LSH_PAIRS_CTE + """
            select least(coalesce(da.source, '__null__'),
                         coalesce(db.source, '__null__')) as source_a,
                   greatest(coalesce(da.source, '__null__'),
                            coalesce(db.source, '__null__')) as source_b,
                   cast(count(*) as bigint) as dup_pairs
            from pairs p
            join documents da on da.doc_id = p.doc_a
            join documents db on db.doc_id = p.doc_b
            group by 1, 2
        """,
        "q_dedup_within_doc": """
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')), ' '),
                                 x -> x != '') as w
              from documents
            ), pd0 as (
              select doc_id, w,
                     case when len(w) = 0 then '' else
                       array_to_string(list_transform(
                         range(0, (len(w) + 14) // 15),
                         i -> array_to_string(w[i * 15 + 1 : i * 15 + 15], ' ')),
                         chr(10) || chr(10)) end as pt
              from t
            ), pd as (
              select doc_id,
                     case when len(w) > 15 then
                       pt || chr(10) || chr(10)
                          || array_to_string(w[1:15], ' ')
                     else pt end as text
              from pd0
            ), paras as (
              select doc_id, i as pos, ps[i] as para,
                     md5(lower(trim(regexp_replace(ps[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ps[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(text, chr(10) || chr(10)) as ps
                    from pd) x,
                   unnest(range(1, len(ps) + 1)) as u(i)
            ), ranked as (
              select *, case when nonblank then
                       row_number() over (partition by doc_id, fp
                                          order by pos)
                     else 1 end as rn
              from paras
            ), kept as (
              select * from ranked where rn = 1
            ), rebuilt as (
              select doc_id,
                     string_agg(para, chr(10) || chr(10) order by pos)
                       as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nparas from paras group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nparas - coalesce(r.nkept, 0) as bigint)
                     as removed_paragraphs
            from counts c left join rebuilt r using (doc_id)
        """,
        "q_mixture_reweight": f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}, perdoc as (
              select doc_id,
                     (2 * sum(nlq) + count(*)) // (2 * count(*)) as score_q,
                     count(*) as nb
              from nll group by doc_id
            ), dom as (
              select d.source as strata,
                     count(*) as docs,
                     sum(p.nb) as tokens,
                     sum(p.score_q) as ssum
              from perdoc p join documents d using (doc_id)
              group by d.source
            ), tot as (
              select sum(docs) as gdocs, sum(ssum) as gsum,
                     sum(tokens) as gtok
              from dom
            ), enriched as (
              select strata, docs, tokens,
                     (2 * ssum + docs) // (2 * docs) as mean_score_q,
                     (2 * gsum + gdocs) // (2 * gdocs) as gmean,
                     (tokens * 1000000) // gtok as base_ppm
              from dom cross join tot
            ), mult as (
              select *,
                     greatest(0, 1000000 - 1000000 +
                       (((mean_score_q * 1000000) // greatest(gmean, 1))
                        * 1000000) // 1000000) as mult_ppm
              from enriched
            ), raws as (
              select *, base_ppm * mult_ppm as raw,
                     sum(base_ppm * mult_ppm) over () as rawsum
              from mult
            )
            select strata as source,
                   cast(docs as bigint) as docs,
                   cast(tokens as bigint) as tokens,
                   cast(mean_score_q as bigint) as mean_score_q,
                   cast(base_ppm as bigint) as base_ppm,
                   cast(mult_ppm as bigint) as mult_ppm,
                   cast((raw * 1000000) // greatest(rawsum, 1) as bigint)
                     as weight_ppm
            from raws
        """,
        "q_dedup_paragraphs": """
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')), ' '),
                                 x -> x != '') as w
              from documents
            ), pd as (
              select doc_id,
                     case when len(w) = 0 then '' else
                       array_to_string(list_transform(
                         range(0, (len(w) + 14) // 15),
                         i -> array_to_string(w[i * 15 + 1 : i * 15 + 15], ' ')),
                         chr(10) || chr(10)) end as text
              from t
            ), paras as (
              select doc_id, i as pos, ps[i] as para,
                     md5(lower(trim(regexp_replace(ps[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ps[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(text, chr(10) || chr(10)) as ps
                    from pd) x,
                   unnest(range(1, len(ps) + 1)) as u(i)
            ), ranked as (
              select *, case when nonblank then
                       row_number() over (partition by fp
                                          order by doc_id, pos)
                     else 1 end as rn
              from paras
            ), kept as (
              select * from ranked where rn = 1
            ), rebuilt as (
              select doc_id,
                     string_agg(para, chr(10) || chr(10) order by pos)
                       as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nparas from paras group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nparas - coalesce(r.nkept, 0) as bigint)
                     as removed_paragraphs
            from counts c left join rebuilt r using (doc_id)
        """,
        "q_bloom_dedup_gate": """
            with hist as (
              select distinct
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where doc_id % 2 = 0 and text is not null
            ), hpos as (
              select cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                          1, 15)) as bigint) % 65536 as pos
              from hist, unnest(range(0, 4)) as u(j)
            ), bloom as (
              select pos // 32 as word,
                     cast(bit_or(cast(1 as bigint) << cast(pos % 32 as int))
                          as bigint) as bits
              from hpos group by pos // 32
            ), newdocs as (
              select doc_id,
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where doc_id % 2 = 1
            ), npos as (
              select doc_id,
                cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                     1, 15)) as bigint) % 65536 as pos
              from newdocs, unnest(range(0, 4)) as u(j)
              where fp is not null
            ), hits as (
              select n.doc_id,
                     min(case when ((coalesce(b.bits, 0)
                                     >> cast(n.pos % 32 as int)) & 1) = 1
                              then 1 else 0 end) as allhit
              from npos n left join bloom b on n.pos // 32 = b.word
              group by n.doc_id
            )
            select nd.doc_id,
                   coalesce(h.allhit, 0) = 1 as maybe_seen
            from (select distinct doc_id from newdocs) nd
            left join hits h using (doc_id)
        """,
        "q_interleave_sources": """
            with ranked as (
              select doc_id, source,
                     row_number() over (partition by source
                                        order by doc_id) as k,
                     case source when 'src0' then 5
                                 when 'src1' then 3
                                 else 1 end as w
              from documents
              where source in ('src0', 'src1', 'src2')
            ), vt as (
              select doc_id, source,
                     ((2 * k - 1) * 1048576) // w as t, k
              from ranked
            )
            select doc_id, source,
                   cast(row_number() over (order by t, source, k) - 1
                        as bigint) as emit_order
            from vt
        """,
        "q_token_budget": f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            c as (
              select *,
                     cast(sum(ntok) over (partition by source
                          order by quality_q desc, doc_id asc
                          rows between unbounded preceding and current row)
                          as bigint) as cum_tokens
              from b
            )
            select doc_id, source, quality_q, ntok, cum_tokens
            from c where cum_tokens <= 800
        """,
        "q_quality_cutoff": f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            c as (
              select doc_id, source, quality_q,
                     cast(row_number() over (partition by source
                          order by quality_q desc, doc_id asc)
                          as bigint) as q_rank,
                     cast(count(*) over (partition by source)
                          as bigint) as nc
              from b
            )
            select doc_id, source, quality_q, q_rank
            from c where q_rank <= (nc * 2) // 5
        """,
        "q_bloom_merge": """
            with fps as (
              select distinct
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fp
              from documents
              where text is not null
            ), pos as (
              select cast(('0x' || substr(md5(fp || ':' || j || ':bloom-v1'),
                                          1, 15)) as bigint) % 65536 as pos
              from fps, unnest(range(0, 4)) as u(j)
            )
            select pos // 32 as word,
                   cast(bit_or(cast(1 as bigint) << cast(pos % 32 as int))
                        as bigint) as bits
            from pos group by pos // 32
        """,
        "q_datasheet": f"""
            with toks as (
              select source, lang,
                     string_split_regex(trim(coalesce(text, '')),
                                        '\\s+') as t,
                     cast(length(coalesce(text, '')) as bigint) as c,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from documents
            ), per as (
              select source, lang, c, fp,
                     cast(len(list_filter(t, w -> w != '')) as bigint) as n,
                     cast({quality_q_sql()} as bigint) as q
              from toks
            )
            select source, lang,
                   cast(count(*) as bigint) as docs,
                   cast(sum(n) as bigint) as tokens,
                   cast(sum(c) as bigint) as chars,
                   cast(count(distinct fp) as bigint) as uniq_docs,
                   cast((1000000 * (count(*) - count(distinct fp)))
                        // count(*) as bigint) as dup_ppm,
                   cast((2 * sum(q) + count(*)) // (2 * count(*))
                        as bigint) as avg_quality_q
            from per
            group by source, lang
        """,
        "q_ann_recall": f"""
            with exact as (select * from ({_ORACLE_EMBED_TOPK})),
            approx as (select * from ({_ORACLE_IVF_TOPK})),
            hits as (
              select e.query_id, count(*) as c
              from exact e
              join approx a
                on e.query_id = a.query_id
               and e.neighbor_id = a.neighbor_id
              group by e.query_id
            )
            select q.query_id,
                   cast(coalesce(c, 0) as bigint) as hits,
                   cast((1000000 * coalesce(c, 0)) // 5 as bigint)
                     as recall_ppm
            from (select distinct query_id from exact) q
            left join hits on q.query_id = hits.query_id
        """,
        "q_corpus_shuffle": """
            select doc_id,
                   md5(cast(doc_id as varchar) || ':ep0') as shuffle_key,
                   cast(row_number() over (
                        order by md5(cast(doc_id as varchar) || ':ep0'),
                                 doc_id) - 1
                        as bigint) as shuffle_rank
            from documents
        """,
        "q_corpus_diff": """
            with old as (
              select doc_id, source,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from documents
            ), newv as (
              select doc_id, source,
                case when doc_id % 7 = 3 then text || ' v2-rev'
                     else text end as text
              from documents where doc_id % 13 != 0
              union all
              select doc_id + 2000000 as doc_id, source, text
              from documents where doc_id % 11 = 5
            ), newfp as (
              select doc_id, source,
                     md5(lower(trim(regexp_replace(coalesce(text, ''),
                                                   '\\s+', ' ', 'g')))) as fp
              from newv
            ), d as (
              select coalesce(n.doc_id, o.doc_id) as doc_id,
                     coalesce(n.source, o.source) as source,
                case when o.fp is null then 'added'
                     when n.fp is null then 'removed'
                     when o.fp != n.fp then 'changed'
                     else 'unchanged' end as status
              from old o full outer join newfp n using (doc_id)
            )
            select source, status, cast(count(*) as bigint) as docs
            from d group by source, status
        """,
        "q_curriculum_order": f"""
            with b as ({_QUALITY_NTOK_BASE_SQL.format(qq=quality_q_sql())}),
            bd as (
              select doc_id,
                     cast(quality_q // 1000000 as bigint) as band,
                     md5(cast(doc_id as varchar) || ':curriculum-v1') as k
              from b
            )
            select doc_id, band,
                   cast(row_number() over (order by band, k, doc_id) - 1
                        as bigint) as curriculum_rank
            from bd
        """,
        "q_unigram_entropy": f"""
            with tok as (
              select doc_id,
                     unnest(list_filter(string_split(trim(coalesce(text, '')),
                                                     ' '), x -> x != '')) as t
              from documents
            ), cc as (
              select doc_id, cast(count(*) as bigint) as c
              from tok group by doc_id, t
            ), nt as (
              select doc_id, cast(sum(c) as bigint) as n
              from cc group by doc_id
            ), args as (
              select distinct m from (
                select c as m from cc union select n as m from nt)
            ), lns as (
              select m, {fxln_select_sql("m", "_f")} from args
            ), s as (
              select cc.doc_id,
                     cast(sum(cc.c * l._fln) as bigint) as sv
              from cc join lns l on cc.c = l.m
              group by cc.doc_id
            )
            select nt.doc_id, nt.n as n_tokens,
                   cast(((l2._fln - ((2 * s.sv + nt.n) // (2 * nt.n)))
                         * 1000000 + 1073741824) // 2147483648 as double)
                     / 1000000.0 as entropy
            from nt
            join s using (doc_id)
            join lns l2 on nt.n = l2.m
        """,
        "q01_pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) as sum_charge,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_extendedprice), 4) as avg_price,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "q03_shipping_priority": """
            select l_orderkey, cast(o_orderdate as date) as o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from customer
            join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            where c_mktsegment = 'BUILDING'
              and o_orderdate < timestamp '1998-03-15'
              and l_shipdate > timestamp '1998-03-15'
            group by l_orderkey, o_orderdate
            order by revenue desc, l_orderkey asc
            limit 10
        """,
        "q05_region_revenue": """
            select r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
                   count(*) as n_lineitems
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name
        """,
        "q06_forecast_revenue": """
            select round(sum(l_extendedprice * l_discount), 2) as revenue,
                   count(*) as n_rows
            from lineitem
            where l_shipdate >= timestamp '1996-01-01'
              and l_shipdate < timestamp '1997-01-01'
              and l_discount between 0.02 and 0.08
              and l_quantity < 24
        """,
        "q_top_customers": """
            select c_custkey, c_name,
                   round(sum(o_totalprice), 2) as total_spend,
                   count(*) as n_orders
            from orders join customer on o_custkey = c_custkey
            group by c_custkey, c_name
            order by total_spend desc, c_custkey asc
            limit 25
        """,
        "q_order_priority": """
            select o_orderpriority, count(*) as order_count
            from orders
            where o_orderdate >= timestamp '1996-01-01'
              and o_orderdate < timestamp '1997-01-01'
            group by o_orderpriority
        """,
        "q_part_brand_stats": """
            select p_brand,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(avg(l_discount), 6) as avg_disc,
                   count(*) as n_items
            from lineitem join part on l_partkey = p_partkey
            group by p_brand
        """,
        "q_nation_acctbal_rollup": """
            select r_name, n_name,
                   count(*) as n_customers,
                   round(avg(c_acctbal), 4) as avg_acctbal
            from customer
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name, n_name
        """,
        "q_events_daily": """
            select cast(date_trunc('day', ts) as date) as day, event_type,
                   count(*) as n_events,
                   round(sum(value), 4) as sum_value
            from events
            group by day, event_type
        """,
        "q_events_last_per_user": """
            select user_id, last_event_id, last_event_type from (
              select user_id, event_id as last_event_id, event_type as last_event_type,
                     row_number() over (partition by user_id
                                        order by ts desc, event_id desc) as rn
              from events
            ) where rn = 1
        """,
        "q_ivfpq_topk": """
            with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), seeds as (
              select row_number() over (order by vec_id) - 1 as o, q
              from (select * from base order by vec_id limit 16)
            ), coarse as (
              select o, q from seeds where o < 8
            ), qv as (
              select q from base order by vec_id limit 1
            ), qid as (
              select min(vec_id) as qid from base
            ), cassign as (
              select vec_id, o as list_id from (
                select b.vec_id, c.o,
                  row_number() over (partition by b.vec_id order by
                    list_aggregate([(b.q[i] - c.q[i]) * (b.q[i] - c.q[i])
                                    for i in range(1, 65)], 'sum') asc,
                    c.o asc) as rn
                from base b cross join coarse c
              ) where rn = 1
            ), probes as (
              select o as list_id from (
                select c.o,
                  row_number() over (order by
                    list_aggregate([(qv.q[i] - c.q[i]) * (qv.q[i] - c.q[i])
                                    for i in range(1, 65)], 'sum') asc,
                    c.o asc) as rn
                from qv cross join coarse c
              ) where rn <= 2
            ), subs as (
              select unnest(range(0, 8)) as s
            ), dists as (
              select b.vec_id, subs.s, se.o,
                list_aggregate(
                  [(b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as dist
              from base b cross join subs cross join seeds se
            ), assign as (
              select vec_id, s, o from (
                select *, row_number() over (
                  partition by vec_id, s order by dist asc, o asc) as rn
                from dists
              ) where rn = 1
            ), qd as (
              select subs.s, se.o,
                list_aggregate(
                  [(qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as qdist
              from qv cross join subs cross join seeds se
            ), score as (
              select a.vec_id, any_value(ca.list_id) as list_id,
                     cast(sum(qd.qdist) as bigint) as pq_dist
              from assign a
              join qd on a.s = qd.s and a.o = qd.o
              join cassign ca on ca.vec_id = a.vec_id
              where ca.list_id in (select list_id from probes)
                and a.vec_id <> (select qid from qid)
              group by a.vec_id
            )
            select vec_id, cast(list_id as int) as list_id, pq_dist,
                   cast(rank as bigint) as rank from (
              select *, row_number() over (order by pq_dist asc, vec_id asc)
                as rank
              from score
            ) where rank <= 10
        """,
        "q_pq_topk": """
            with base as (
              select cast(vec_id as bigint) as vec_id,
                [cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)
                 for x in embedding] as q
              from embeddings
            ), seeds as (
              select row_number() over (order by vec_id) - 1 as o, q
              from (select * from base order by vec_id limit 16)
            ), qv as (
              select q from base order by vec_id limit 1
            ), qid as (
              select min(vec_id) as qid from base
            ), subs as (
              select unnest(range(0, 8)) as s
            ), dists as (
              select b.vec_id, subs.s, se.o,
                list_aggregate(
                  [(b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (b.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as dist
              from base b cross join subs cross join seeds se
            ), assign as (
              select vec_id, s, o from (
                select *, row_number() over (
                  partition by vec_id, s order by dist asc, o asc) as rn
                from dists
              ) where rn = 1
            ), qd as (
              select subs.s, se.o,
                list_aggregate(
                  [(qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   * (qv.q[subs.s * 8 + i] - se.q[subs.s * 8 + i])
                   for i in range(1, 9)], 'sum') as qdist
              from qv cross join subs cross join seeds se
            ), score as (
              select a.vec_id, cast(sum(qd.qdist) as bigint) as pq_dist
              from assign a join qd on a.s = qd.s and a.o = qd.o
              where a.vec_id <> (select qid from qid)
              group by a.vec_id
            )
            select vec_id, pq_dist, cast(rank as bigint) as rank from (
              select *, row_number() over (order by pq_dist asc, vec_id asc)
                as rank
              from score
            ) where rank <= 10
        """,
        "q_quantized_codes": """
            with base as (
              select vec_id,
                     list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), s as (
              select vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) / 127.0 as scale
              from base
            )
            select vec_id,
                   unnest([{'pos': i - 1,
                            'code': case when scale > 0
                                         then cast(floor(e[i] / scale + 0.5) as int)
                                         else 0 end}
                           for i in range(1, len(e) + 1)], recursive := true),
                   scale
            from s
        """,
        "q_random_projection": """
            with base as (
              select vec_id,
                     list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), planes as (
              select p,
                list_transform(range(0, 64), i ->
                  (cast(('0x' || substr(md5('plane' || cast(p as varchar) || ':'
                                             || cast(i as varchar)), 1, 8))
                        as bigint) / 4294967295.0) * 2 - 1) as h
              from (select unnest(range(0, 8)) as p)
            )
            select b.vec_id, cast(p.p as int) as pos,
                   floor(list_aggregate([b.e[i + 1] * p.h[i + 1]
                                         for i in range(0, 64)], 'sum')
                         * 1000000000.0 + 0.5) / 1000000000.0 as value
            from base b cross join planes p
        """,
        "q_value_outliers": """
            with med as (
              select user_id, quantile_cont(value, 0.5) as med
              from events group by user_id
            ), j as (
              select e.user_id, e.event_id, e.value,
                     abs(e.value - m.med) as absdev
              from events e join med m using (user_id)
            ), mad as (
              select user_id, quantile_cont(absdev, 0.5) as mad
              from j group by user_id
            )
            select j.user_id, j.event_id,
                   floor(j.value * 1000000 + 0.5) / 1000000 as value
            from j join mad using (user_id)
            where j.absdev > 3.0 * mad.mad
        """,
        "q_cohort_retention": """
            with active as (
              select distinct user_id as u,
                     epoch_us(ts) // 604800000000 as p
              from events
            ), cohorts as (
              select u, min(p) as cohort_p from active group by u
            )
            select c.cohort_p as cohort_period,
                   a.p - c.cohort_p as period_offset,
                   cast(count(distinct a.u) as bigint) as users
            from active a join cohorts c on a.u = c.u
            group by 1, 2
        """,
        "q_funnel": """
            with e as (
              select user_id, epoch_us(ts) as us, event_type from events
            ), s1 as (
              select user_id, min(us) as t1 from e
              where event_type = 'view' group by user_id
            ), s2 as (
              select e.user_id, min(us) as t2
              from e join s1 using (user_id)
              where event_type = 'click' and us >= t1
                and us <= t1 + 86400000000
              group by e.user_id
            ), s3 as (
              select e.user_id, min(us) as t3
              from e join s2 using (user_id) join s1 using (user_id)
              where event_type = 'purchase' and us >= t2
                and us <= t1 + 86400000000
              group by e.user_id
            )
            select s1.user_id, t1, t2, t3,
                   cast(1 + case when t2 is not null then 1 else 0 end
                          + case when t3 is not null then 1 else 0 end as bigint)
                     as stage
            from s1 left join s2 using (user_id) left join s3 using (user_id)
        """,
        "q_funnel_summary": """
            with e as (
              select user_id, epoch_us(ts) as us, event_type from events
            ), s1 as (
              select user_id, min(us) as t1 from e
              where event_type = 'view' group by user_id
            ), s2 as (
              select e.user_id, min(us) as t2
              from e join s1 using (user_id)
              where event_type = 'click' and us >= t1
                and us <= t1 + 86400000000
              group by e.user_id
            ), s3 as (
              select e.user_id, min(us) as t3
              from e join s2 using (user_id) join s1 using (user_id)
              where event_type = 'purchase' and us >= t2
                and us <= t1 + 86400000000
              group by e.user_id
            ), per_user as (
              select cast(1 + case when t2 is not null then 1 else 0 end
                            + case when t3 is not null then 1 else 0 end
                          as bigint) as stage
              from s1 left join s2 using (user_id) left join s3 using (user_id)
            )
            select cast(step as bigint) as step,
                   cast(sum(case when stage >= step then 1 else 0 end)
                        as bigint) as users
            from per_user, (select unnest(range(1, 4)) as step)
            group by step
        """,
        "q_events_sessionize": """
            with gaps as (
              select user_id, ts, event_id,
                     epoch_us(ts) - lag(epoch_us(ts)) over w as gap
              from events
              window w as (partition by user_id order by ts, event_id)
            ), sess as (
              select user_id, ts,
                     sum(case when gap is null or gap > 1800000000 then 1 else 0 end)
                       over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row) as session_id
              from gaps
            )
            select user_id, cast(session_id as bigint) as session_id,
                   count(*) as n_events,
                   cast((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 as bigint) as duration_sec
            from sess
            group by user_id, session_id
        """,
        "q_events_moving_avg": """
            with base as (
              select event_id, user_id,
                     cast(epoch_us(ts) // 1000000 as bigint) as secs,
                     cast(value as decimal(18,6)) as v
              from events
            )
            select event_id, user_id,
                   floor(cast(sum(v) over w as double)
                         / (count(*) over w) * 1000000.0 + 0.5) / 1000000.0
                     as hour_avg,
                   count(*) over w as hour_n
            from base
            window w as (partition by user_id order by secs
                         range between 3600 preceding and current row)
        """,
        "q_events_json": """
            select event_type,
                   round(avg(k), 4) as avg_k,
                   max(k) as max_k,
                   count(*) as n
            from (
              select event_type,
                     cast(json_extract_string(props, '$.k') as bigint) as k
              from events
            )
            group by event_type
        """,
        "q_element_type_match": """
            with src_t as (
              select doc_id,
                case when length(l) < 30 and not regexp_matches(l, '[0-9]')
                     then 'Title'
                     when regexp_matches(l, '^[0-9]') then 'ListItem'
                     else 'NarrativeText' end as type
              from (select doc_id, unnest(string_split(text, '. ')) as l
                    from documents)
              where trim(l) <> ''
            ), out_t as (
              select doc_id,
                case when length(l) < 30 and not regexp_matches(l, '[0-9]')
                     then 'Title'
                     when regexp_matches(l, '^[0-9]') then 'ListItem'
                     else 'NarrativeText' end as type
              from (select doc_id,
                      unnest(string_split(
                        substr(text, 1, cast(floor(length(text) * 0.6) as int)),
                        '. ')) as l
                    from documents)
              where trim(l) <> ''
            ), sf as (
              select doc_id, type, count(*) as n_src from src_t group by 1, 2
            ), of as (
              select doc_id, type, count(*) as n_out from out_t group by 1, 2
            ), j as (
              select coalesce(sf.doc_id, of.doc_id) as doc_id,
                     coalesce(n_src, 0) as n_src, coalesce(n_out, 0) as n_out
              from sf full join of
                on sf.doc_id = of.doc_id and sf.type = of.type
            )
            select doc_id,
                   round(cast(sum(least(n_out, n_src)) as double)
                         / sum(n_src), 6) as percent_match
            from j group by doc_id
        """,
        "q_doc_quantiles": """
            select lang,
                   quantile_cont(n_chars, 0.5) as p50,
                   quantile_cont(n_chars, 0.9) as p90,
                   count(*) as n_docs
            from documents group by lang
        """,
        "q_simhash_pairs": """
            with toks as (
              select doc_id,
                     list_transform(list_distinct(string_split(trim(text), ' ')),
                       t -> cast(('0x' || substr(md5(t),1,15)) as bigint)) as hs
              from documents
            ), fps as (
              select doc_id,
                     cast(list_aggregate(
                       [case when len(list_filter(hs, h -> (h >> b) & 1 = 1)) * 2 > len(hs)
                             then cast(1 as bigint) << b else 0 end
                        for b in range(0, 48)], 'sum') as bigint) as fp
              from toks
            )
            select a.doc_id as doc_a, b.doc_id as doc_b,
                   cast(bit_count(xor(a.fp, b.fp)) as bigint) as hamming
            from fps a join fps b on a.doc_id < b.doc_id
            where bit_count(xor(a.fp, b.fp)) <= 2
        """,
        "q_winnow_fingerprints": """
            with toks as (
              select doc_id,
                list_filter(
                  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                  t -> t <> '') as ts
              from documents
            ), hashes as (
              select doc_id,
                list_transform(
                  list_transform(range(1, greatest(len(ts) - 5 + 1, 1) + 1),
                                 i -> array_to_string(ts[i:i+4], ' ')),
                  g -> cast(('0x' || substr(md5(g), 1, 15)) as bigint)) as hs
              from toks
              where len(ts) >= 5
            ), mins as (
              select doc_id,
                case when len(hs) >= 4
                  then list_transform(range(1, len(hs) - 4 + 2),
                                      i -> list_aggregate(hs[i:i+3], 'min'))
                  else [list_aggregate(hs, 'min')] end as ms
              from hashes
            )
            select distinct doc_id, unnest(ms) as fp_hash from mins
        """,
        "q_doc_stats": """
            with toks as (
              select doc_id, text, string_split(trim(text), ' ') as t
              from documents
            )
            select doc_id,
                   cast(len(t) as bigint) as token_count,
                   cast(length(text) as bigint) as char_count,
                   round(len(list_distinct(t)) * 1.0 / len(t), 6) as unique_token_ratio,
                   round(list_aggregate(list_transform(t, w -> length(w)), 'sum') * 1.0 / len(t), 6) as mean_word_length,
                   round(len(list_filter(t, w -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','are','was','were',
                      'for','with','on','at','by','from','that','this','it','as','be',
                      'been','has','have','had','not','but'], lower(w)))) * 1.0 / len(t), 6)
                     as stopword_ratio,
                   round((
                     (case when list_aggregate(list_transform(t, w -> length(w)), 'sum') * 1.0 / len(t)
                            between 3 and 10 then 1.0 else 0.0 end)
                     + least(5.0 * len(list_filter(t, w -> list_contains(
                         ['the','a','an','and','or','of','to','in','is','are','was','were',
                          'for','with','on','at','by','from','that','this','it','as','be',
                          'been','has','have','had','not','but'], lower(w)))) / len(t), 1.0)
                     + len(list_distinct(t)) * 1.0 / len(t)
                   ) / 3.0, 6) as quality_score,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fingerprint
            from toks
        """,
        "q_token_freq": """
            select token, count(*) as freq
            from (
              select unnest(string_split(trim(text), ' ')) as token
              from documents
            )
            group by token
        """,
        "q_token_shards": """
            with t as (
              select doc_id,
                     cast(len(list_filter(
                       string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       x -> x != '')) as bigint) as n_tokens
              from documents
            ), c as (
              select doc_id, n_tokens,
                     cast(coalesce(sum(n_tokens) over (
                       order by doc_id
                       rows between unbounded preceding and 1 preceding),
                       0) as bigint) as off
              from t
            )
            select doc_id, n_tokens,
                   cast(off // 2000 as bigint) as shard_id
            from c
        """,
        "q_bpe_top_pairs": """
            with words as (
              select w as word, cast(count(*) as bigint) as n
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ), pos as (
              select word, n,
                     unnest(range(1, length(word) + 1)) as i
              from words
            )
            select substr(word, cast(i as int), 1) as a,
                   case when i < length(word)
                        then substr(word, cast(i as int) + 1, 1)
                        else '</w>' end as b,
                   cast(sum(n) as bigint) as pair_count
            from pos
            group by a, b
            order by pair_count desc, a, b
            limit 100
        """,
        "q_vocab_coverage": """
            with words as (
              select w as token, cast(count(*) as bigint) as cnt
              from (
                select unnest(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) as w
                from documents
              )
              group by w
            ), tot as (
              select cast(sum(cnt) as bigint) as total from words
            ), top as (
              select token, cnt from words
              order by cnt desc, token asc limit 200
            )
            select token, cnt,
                   cast(row_number() over
                        (order by cnt desc, token asc) as bigint) as rank,
                   cast(sum(cnt) over
                        (order by cnt desc, token asc
                         rows between unbounded preceding and current row)
                        as bigint) as cum_cnt,
                   (cast(sum(cnt) over
                        (order by cnt desc, token asc
                         rows between unbounded preceding and current row)
                        as bigint) * 1000000) // total as coverage_ppm
            from top, tot
        """,
        "q_gopher_quality": """
with w as (
  select doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') as ws,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') as ls,
    list_filter(list_transform(regexp_split_to_array(text, '\\n\\s*\\n'), x -> trim(x)), x -> x <> '') as ps
  from documents
), s as (
  select doc_id,
    len(ws) as wc, len(ls) as lc, len(ps) as pc,
    coalesce(list_aggregate(list_transform(ws, x -> length(x)), 'sum'), 0) as wchars,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) as alpha,
    len(list_filter(ws, x -> list_contains(
      ['the','be','to','of','and','that','have','with','a','in','it','on'], lower(x)))) as stop_cnt,
    length(text) - length(replace(text, '#', '')) as hash_cnt,
    len(string_split(text, '...')) - 1 as ell_cnt,
    len(list_filter(ls, x -> regexp_matches(x, '^[-*•‣⁃]'))) as bullet_lines,
    len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$'))) as ell_lines,
    coalesce(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0) as lchars,
    coalesce(list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum'), 0) as dlchars,
    len(list_distinct(ls)) as dlc,
    coalesce(list_aggregate(list_transform(ps, x -> length(x)), 'sum'), 0) as pchars,
    coalesce(list_aggregate(list_transform(list_distinct(ps), x -> length(x)), 'sum'), 0) as dpchars,
    len(list_distinct(ps)) as dpc
  from w
)
select doc_id,
  cast(wc as bigint) as word_count,
  cast(lc as bigint) as line_count,
  cast(stop_cnt as bigint) as stopword_count,
  round(case when wc > 0 then wchars / wc else 0.0 end, 6) as mean_word_len,
  round(case when wc > 0 then alpha / wc else 0.0 end, 6) as alpha_word_frac,
  round(case when wc > 0 then (hash_cnt + ell_cnt) / wc else 0.0 end, 6) as symbol_word_ratio,
  round(case when lc > 0 then bullet_lines / lc else 0.0 end, 6) as bullet_line_frac,
  round(case when lc > 0 then ell_lines / lc else 0.0 end, 6) as ellipsis_line_frac,
  round(case when lc > 0 then 1.0 - dlc / lc else 0.0 end, 6) as dup_line_frac,
  round(case when lchars > 0 then (lchars - dlchars) / lchars else 0.0 end, 6) as dup_line_char_frac,
  round(case when pc > 0 then 1.0 - dpc / pc else 0.0 end, 6) as dup_para_frac,
  round(case when pchars > 0 then (pchars - dpchars) / pchars else 0.0 end, 6) as dup_para_char_frac,
  ((wc between 50 and 100000)
   and ((case when wc > 0 then wchars / wc else 0.0 end) between 3.0 and 10.0)
   and ((case when wc > 0 then (hash_cnt + ell_cnt) / wc else 0.0 end) <= 0.1)
   and ((case when lc > 0 then bullet_lines / lc else 0.0 end) <= 0.9)
   and ((case when lc > 0 then ell_lines / lc else 0.0 end) <= 0.3)
   and ((case when wc > 0 then alpha / wc else 0.0 end) >= 0.8)
   and (stop_cnt >= 2)) as gopher_keep
from s
""",
        "q_ngram_repetition": """
with w as (
  select doc_id, length(trim(text)) as text_len,
    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') as ws
  from documents
), grams as (
  select doc_id, text_len, n,
    unnest([array_to_string(ws[i:i+n-1], ' ')
            for i in range(1, greatest(len(ws) - n + 2, 1))]) as gram
  from w cross join (select unnest([2, 5]) as n) t
), counts as (
  select doc_id, text_len, n, gram, count(*) as cnt
  from grams group by doc_id, text_len, n, gram
), per_n as (
  select doc_id, text_len, n,
    sum(cnt) as total,
    max(cnt * length(gram)) as top_chars,
    sum(case when cnt > 1 then cnt else 0 end) as dup_occ
  from counts group by doc_id, text_len, n
)
, stats as (
  select doc_id,
    round(max(case when n = 2 then dup_occ / total end), 6) as dup_2gram_frac,
    round(max(case when n = 2 then top_chars / greatest(text_len, 1) end), 6) as top_2gram_char_frac,
    round(max(case when n = 5 then dup_occ / total end), 6) as dup_5gram_frac,
    round(max(case when n = 5 then top_chars / greatest(text_len, 1) end), 6) as top_5gram_char_frac
  from per_n group by doc_id
)
select d.doc_id, s.dup_2gram_frac, s.top_2gram_char_frac,
       s.dup_5gram_frac, s.top_5gram_char_frac
from (select distinct doc_id from documents) d
left join stats s using (doc_id)
""",
        "q_exact_dups": """
            select md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as fingerprint,
                   min(doc_id) as keep_id,
                   count(*) as dup_count
            from documents
            group by fingerprint
        """,
        "q_minhash_signatures": _MINHASH_SIG_CTE + """
            select doc_id, cast(h as bigint) as h, sig[h + 1] as minhash
            from sigs, (select unnest(range(0, 16)) as h)
        """,
        "q_lsh_candidate_pairs": _LSH_PAIRS_CTE + """
            select doc_a, doc_b,
                   round(len(list_filter([sig_a[i] = sig_b[i] for i in range(1, 17)],
                                         x -> x)) / 16.0, 6) as est_jaccard
            from pairs
        """,
        "q_ngram_jaccard_dups": _LSH_PAIRS_CTE + """
            , sh as (
              select doc_id,
                     list_distinct([t.toks[i] || '_' || t.toks[i+1] || '_' || t.toks[i+2]
                                    for i in range(1, len(t.toks) - 1)]) as sh
              from (select doc_id, string_split(trim(text), ' ') as toks
                    from documents) t
            )
            select doc_a, doc_b,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                         len(list_distinct(list_concat(a.sh, b.sh))), 6) as jaccard
            from pairs
            join sh a on a.doc_id = doc_a
            join sh b on b.doc_id = doc_b
            where round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                        len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
        """,
        "q_simhash": """
            with toks as (
              select doc_id,
                     list_transform(list_distinct(string_split(trim(text), ' ')),
                       t -> cast(('0x' || substr(md5(t),1,15)) as bigint)) as hs
              from documents
            )
            select doc_id,
                   cast(list_aggregate(
                     [case when len(list_filter(hs, h -> (h >> b) & 1 = 1)) * 2 > len(hs)
                           then 1 << b else 0 end
                      for b in range(0, 16)], 'sum') as bigint) as simhash16
            from toks
        """,
        "q_chunk_fixed": """
            with toks as (
              select doc_id,
                     unnest([{'pos': i - 1, 'token': t[i]}
                             for i in range(1, len(t) + 1)],
                            recursive := true)
              from (select doc_id, string_split(trim(text), ' ') as t
                    from documents)
            )
            select doc_id,
                   cast(floor(pos / 40) as bigint) as chunk_index,
                   string_agg(token, ' ' order by pos) as chunk_text,
                   count(*) as n_tokens
            from toks
            group by doc_id, chunk_index
        """,
        "q_langid": """
            with scored as (
              select doc_id,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['the','and','of','to','is'])) as s_eng,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['el','la','que','por','una'])) as s_spa,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['le','les','des','est','dans'])) as s_fra,
                len(list_intersect(string_split(lower(trim(text)), ' '),
                    ['der','die','das','und','ist'])) as s_deu
              from documents
            )
            select doc_id,
                   case when s_eng >= greatest(s_eng, s_spa, s_fra, s_deu) then 'eng'
                        when s_spa >= greatest(s_eng, s_spa, s_fra, s_deu) then 'spa'
                        when s_fra >= greatest(s_eng, s_spa, s_fra, s_deu) then 'fra'
                        else 'deu' end as detected_lang,
                   cast(greatest(s_eng, s_spa, s_fra, s_deu) as bigint) as marker_hits
            from scored
        """,
        "q_cleaned_docs": """
            select doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as clean_md5,
                   cast(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as bigint) as clean_len
            from documents
        """,
        "q_embed_topk": _ORACLE_EMBED_TOPK,
        "q_embed_centroids": """
            with vals as (
              select label,
                     unnest([{'pos': i - 1, 'val': cast(e[i] as double)}
                             for i in range(1, len(e) + 1)],
                            recursive := true)
              from (select label, embedding as e from embeddings)
            )
            select label, cast(pos as bigint) as pos,
                   round(avg(val), 6) as centroid_val
            from vals
            group by label, pos
        """,
        "q_embed_neardup": """
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), planes as (
              select p,
                [ (cast(('0x' || substr(md5('plane' || p || ':' || i), 1, 8)) as bigint)
                    / 4294967295.0) * 2.0 - 1.0
                  for i in range(0, 64) ] as hp
              from range(0, 6) t(p)
            ), bucketed as (
              select n.vec_id, n.e, n.nrm,
                cast(sum(case when list_aggregate(
                      list_transform(range(1, 65), i -> n.e[i] * pl.hp[i]), 'sum') > 0
                    then 1 << pl.p else 0 end) as bigint) as bucket
              from normed n cross join planes pl
              group by n.vec_id, n.e, n.nrm
            ), scored as (
              select a.vec_id as id_a, b.vec_id as id_b,
                round(list_aggregate(
                    list_transform(range(1, 65), i -> a.e[i] * b.e[i]), 'sum')
                  / (a.nrm * b.nrm), 6) as cosine_sim
              from bucketed a join bucketed b
                on a.bucket = b.bucket and a.vec_id < b.vec_id
            )
            select id_a, id_b, cosine_sim from scored
            where cosine_sim >= 0.3
        """,
        "q_form_kv_pairs": """
            with base as (
              select cast(doc_id as varchar) as doc_id,
                     cast(doc_id as bigint) as d
              from documents
            ), p as (
              select doc_id, cast(d % 7 as double) as dx,
                     cast(d % 11 as double) as dy,
                     cast(10 + (d % 2) * 40 as double) as ga,
                     cast(30 - (d % 2) * 20 as double) as gb
              from base
            ), tmpl(box_id, kind, tag, gx, bx1, by1, bx2, by2) as (
              values (1,'FormKey','k1',0, 50,0,150,20),
                     (2,'FormKey','k2',0, 50,100,150,120),
                     (3,'FormKey','k3',0, 50,200,150,220),
                     (4,'FormKey','k4',0, 50,400,150,420),
                     (5,'FormKey','k5',0, 600,0,700,20),
                     (6,'FormKey','k6',0, 720,0,780,20),
                     (7,'FormKey','k7',0, 60,300,160,320),
                     (200,'FormValue','v200',0, 160,0,260,20),
                     (201,'FormValue','v201',0, 50,130,150,150),
                     (202,'FormValue','v202',1, 160,200,260,220),
                     (203,'FormValue','v203',2, 160,200,260,220),
                     (204,'FormValue','v204',0, 800,0,900,20),
                     (205,'FormValue','v205',0, 170,300,270,320),
                     (900,'Table',null,0, 40,290,400,400)
            ), det as (
              select p.doc_id, 1 as page_number, t.box_id, t.kind,
                case when t.tag is null then null
                     else t.tag || '_' || p.doc_id end as text,
                t.bx1 + p.dx
                  + case t.gx when 1 then p.ga when 2 then p.gb
                              else 0 end as x1,
                t.by1 + p.dy as y1,
                t.bx2 + p.dx
                  + case t.gx when 1 then p.ga when 2 then p.gb
                              else 0 end as x2,
                t.by2 + p.dy as y2
              from p cross join tmpl t
            ), tbl as (
              select * from det where kind = 'Table'
            ), keys as (
              select k.* from det k
              where k.kind = 'FormKey' and not exists (
                select 1 from tbl t
                where t.doc_id = k.doc_id and t.page_number = k.page_number
                  and greatest(least(k.x2,t.x2)-greatest(k.x1,t.x1)+1, 0)
                      * greatest(least(k.y2,t.y2)-greatest(k.y1,t.y1)+1, 0)
                      > 0.5 * greatest(0.01, (k.x2-k.x1+1)*(k.y2-k.y1+1))
                  and (k.x2-k.x1+1)*(k.y2-k.y1+1)
                      <= (t.x2-t.x1+1)*(t.y2-t.y1+1))
            ), vals as (
              select v.* from det v
              where v.kind = 'FormValue' and not exists (
                select 1 from tbl t
                where t.doc_id = v.doc_id and t.page_number = v.page_number
                  and greatest(least(v.x2,t.x2)-greatest(v.x1,t.x1)+1, 0)
                      * greatest(least(v.y2,t.y2)-greatest(v.y1,t.y1)+1, 0)
                      > 0.5 * greatest(0.01, (v.x2-v.x1+1)*(v.y2-v.y1+1))
                  and (v.x2-v.x1+1)*(v.y2-v.y1+1)
                      <= (t.x2-t.x1+1)*(t.y2-t.y1+1))
            ), cand as (
              select k.doc_id, k.page_number,
                     k.box_id as kid, k.text as ktext,
                     v.box_id as vid, v.text as vtext,
                     case when (v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                               and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                                   > 0.5 * least(k.y2-k.y1, v.y2-v.y1)
                          then 'inline' else 'below' end as relation,
                     cast(case when (v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                               and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                                   > 0.5 * least(k.y2-k.y1, v.y2-v.y1)
                          then v.x1 - k.x2 else v.y1 - k.y2 end
                          as double) as gap
              from keys k join vals v
                on k.doc_id = v.doc_id and k.page_number = v.page_number
               and (((v.x1 - k.x2) >= 0 and (v.x1 - k.x2) <= 200
                     and least(k.y2,v.y2) - greatest(k.y1,v.y1)
                         > 0.5 * least(k.y2-k.y1, v.y2-v.y1))
                 or ((v.y1 - k.y2) >= 0 and (v.y1 - k.y2) <= 200
                     and least(k.x2,v.x2) - greatest(k.x1,v.x1)
                         > 0.5 * least(k.x2-k.x1, v.x2-v.x1)))
            ), best as (
              select * from (
                select c.*, row_number() over (
                  partition by doc_id, page_number, kid
                  order by case when relation = 'inline' then 0 else 1 end,
                           gap, vid) as rk
                from cand c) where rk = 1
            ), won as (
              select * from (
                select b.*, row_number() over (
                  partition by doc_id, page_number, vid
                  order by case when relation = 'inline' then 0 else 1 end,
                           gap, kid) as rv
                from best b) where rv = 1
            )
            select k.doc_id,
                   cast(k.page_number as bigint) as page_number,
                   cast(k.box_id as bigint) as key_box_id,
                   k.text as key_text,
                   cast(w.vid as bigint) as value_box_id,
                   w.vtext as value_text,
                   w.relation as relation,
                   w.gap as gap,
                   round(1.0 / (1.0 + w.gap / 100.0), 6) as confidence
            from keys k left join won w
              on w.doc_id = k.doc_id and w.page_number = k.page_number
             and w.kid = k.box_id
        """,
        "q04_order_priority_check": """
            select o_orderpriority, cast(count(*) as bigint) as order_count
            from orders o
            where o_orderdate >= '1995-01-01' and o_orderdate < '1995-07-01'
              and exists (
                select 1 from lineitem l
                where l.l_orderkey = o.o_orderkey
                  and datediff('day', cast(o.o_orderdate as date),
                               cast(l.l_shipdate as date)) > 30)
            group by o_orderpriority
        """,
        "q09_product_type_profit": """
            with """ + _PARTSUPP_CTE + """
            select n_name as nation,
                   cast(year(o_orderdate) as bigint) as o_year,
                   cast(round(sum(cast(
                       l_extendedprice * (1 - l_discount)
                       - ps_supplycost * l_quantity as decimal(18,6))), 2)
                     as double) as sum_profit
            from lineitem
            join part on l_partkey = p_partkey and p_type like '%PROMO%'
            join partsupp on l_partkey = ps_partkey and l_suppkey = ps_suppkey
            join supplier on l_suppkey = s_suppkey
            join nation on s_nationkey = n_nationkey
            join orders on l_orderkey = o_orderkey
            group by n_name, year(o_orderdate)
        """,
        "q_srp_ann_topk": """
            with base as (
              select vec_id, list_transform(embedding, x -> cast(x as double)) as e
              from embeddings
            ), normed as (
              select vec_id, e,
                sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) as nrm
              from base
            ), planes as (
              select p,
                [ (cast(('0x' || substr(md5('plane' || p || ':' || i), 1, 8)) as bigint)
                    / 4294967295.0) * 2.0 - 1.0
                  for i in range(0, 64) ] as hp
              from range(0, 6) t(p)
            ), bucketed as (
              select n.vec_id, n.e, n.nrm,
                cast(sum(case when list_aggregate(
                      list_transform(range(1, 65), i -> n.e[i] * pl.hp[i]), 'sum') > 0
                    then 1 << pl.p else 0 end) as bigint) as bucket
              from normed n cross join planes pl
              group by n.vec_id, n.e, n.nrm
            ), scored as (
              select q.vec_id as query_id, c.vec_id as neighbor_id,
                round(list_aggregate(
                    list_transform(range(1, 65), i -> q.e[i] * c.e[i]), 'sum')
                  / (q.nrm * c.nrm), 6) as cosine_sim
              from bucketed q join bucketed c
                on q.bucket = c.bucket and c.vec_id <> q.vec_id
              where q.vec_id < 10
            )
            select query_id, neighbor_id, cosine_sim, cast(rank as bigint) as rank from (
              select *, row_number() over (partition by query_id
                order by cosine_sim desc, neighbor_id asc) as rank
              from scored
            ) where rank <= 5
        """,
        "q_ivf_ann_topk": _ORACLE_IVF_TOPK,
        # q_partition_elements / q_chunk_by_title: per-format parsing +
        # order-sensitive chunk fold → rows-only check.
        "q_metrics_grouped": """
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            ), scored as (
              select doc_id,
                'type' || cast(doc_id % 4 as varchar) as doctype,
                round(case when greatest(length(a), length(b)) = 0 then 1.0
                  else greatest(0.0,
                    1.0 - cast(levenshtein(a, b) as double)
                          / greatest(length(a), length(b)))
                  end, 6) as accuracy
              from prep
            )
            select doctype,
                   floor(avg(accuracy) * 1000 + 0.5) / 1000 as accuracy_mean,
                   floor(stddev_samp(accuracy) * 1000 + 0.5) / 1000
                     as accuracy_stdev,
                   floor(stddev_pop(accuracy) * 1000 + 0.5) / 1000
                     as accuracy_pstdev,
                   cast(count(accuracy) as bigint) as accuracy_count
            from scored group by doctype
        """,
        "q_edit_distance": """
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            )
            select doc_id,
              round(case when greatest(length(a), length(b)) = 0 then 1.0
                else greatest(0.0,
                  1.0 - cast(levenshtein(a, b) as double)
                        / greatest(length(a), length(b)))
                end, 6) as accuracy
            from prep
        """,
        "q_eval_summary": """
            with prep as (
              select doc_id,
                trim(regexp_replace(substr(text, 1, 120), '\\s+', ' ', 'g')) as a,
                trim(regexp_replace(
                  regexp_replace(substr(text, 1, 120), '[aeiou]', '', 'g'),
                  '\\s+', ' ', 'g')) as b
              from documents
            ), scored as (
              select round(case when greatest(length(a), length(b)) = 0 then 1.0
                else greatest(0.0,
                  1.0 - cast(levenshtein(a, b) as double)
                        / greatest(length(a), length(b)))
                end, 6) as accuracy
              from prep
            )
            select round(avg(accuracy), 6) as mean,
                   round(stddev_samp(accuracy), 6) as stdev,
                   count(accuracy) as n
            from scored
        """,
        "q_dup_clusters": _LSH_PAIRS_CTE.replace("with ", "with recursive ", 1)
        + """
            , edges as (
              select doc_a as a, doc_b as b from pairs
              union
              select doc_b as a, doc_a as b from pairs
            ), reach as (
              select a, b from edges
              union
              select r.a, e.b from reach r join edges e on r.b = e.a
                where e.b <> r.a
            )
            select a as doc_id, least(a, min(b)) as cluster_id
            from reach group by a
        """,
        "q_leakage_split": _LSH_PAIRS_CTE.replace("with ", "with recursive ", 1)
        + """
            , edges as (
              select doc_a as a, doc_b as b from pairs
              union
              select doc_b as a, doc_a as b from pairs
            ), reach as (
              select a, b from edges
              union
              select r.a, e.b from reach r join edges e on r.b = e.a
                where e.b <> r.a
            ), labels as (
              select a as doc, least(a, min(b)) as lbl from reach group by a
            ), assigned as (
              select d.doc_id,
                     coalesce(l.lbl, d.doc_id) as split_group
              from (select cast(doc_id as bigint) as doc_id from documents) d
              left join labels l on d.doc_id = l.doc
            )
            select doc_id, split_group,
              case
                when cast(('0x' || substr(md5(cast(split_group as varchar)
                     || 'split-v1'), 1, 15)) as bigint)
                     / 1152921504606846976.0 < 0.9 then 'train'
                when cast(('0x' || substr(md5(cast(split_group as varchar)
                     || 'split-v1'), 1, 15)) as bigint)
                     / 1152921504606846976.0 < 0.95 then 'validation'
                else 'test'
              end as split
            from assigned
        """,
        "q_drop_near_duplicates": _VERIFIED_LABELS_CTE + """
            , fp as (
              select doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as f
              from documents
            ), keepers as (
              select f, min(doc_id) as keep from fp group by f
            ), drops as (
              select doc from labels where lbl <> doc
              union
              select fp.doc_id as doc from fp join keepers using (f)
              where fp.doc_id <> keepers.keep
            )
            select d.doc_id, d.text from documents d
            where d.doc_id not in (select doc from drops)
        """,
        "q_drop_keep_best": _VERIFIED_LABELS_CTE + """
            , ck as (
              select lbl, doc as keep from (
                select l.lbl, l.doc,
                       row_number() over (partition by l.lbl
                                          order by d.n_chars desc, l.doc asc) as rn
                from labels l join documents d on d.doc_id = l.doc
              ) where rn = 1
            ), fpq as (
              select doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) as f,
                     n_chars as q
              from documents
            ), fkeep as (
              select f, doc_id as keep from (
                select f, doc_id,
                       row_number() over (partition by f
                                          order by q desc, doc_id asc) as rn
                from fpq
              ) where rn = 1
            ), drops as (
              select l.doc from labels l join ck using (lbl) where l.doc <> ck.keep
              union
              select fpq.doc_id as doc from fpq join fkeep using (f)
              where fpq.doc_id <> fkeep.keep
            )
            select d.doc_id, d.text from documents d
            where d.doc_id not in (select doc from drops)
        """,
        "q_shared_ngram_spans": """
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), pos as (
              select doc_id, t, unnest(range(0, len(t) - 15 + 1)) as pos
              from toks where len(t) >= 15
            ), gh as (
              select doc_id, pos,
                     cast(('0x' || substr(md5(array_to_string(t[pos+1 : pos+15], ' ')),
                                          1, 15)) as bigint) as gh
              from pos
            ), m as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                     a.pos as pos_a, b.pos as pos_b
              from gh a join gh b on a.gh = b.gh and a.doc_id < b.doc_id
            ), isl as (
              select *, pos_a - pos_b as diag,
                     pos_a - row_number() over (
                       partition by doc_a, doc_b, pos_a - pos_b
                       order by pos_a) as islid
              from m
            )
            select doc_a, doc_b, min(pos_a) as start_a, min(pos_b) as start_b,
                   cast(count(*) + 15 - 1 as bigint) as match_tokens
            from isl group by doc_a, doc_b, diag, islid
        """,
        "q_remove_shared_spans": """
            with toks0 as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), pos as (
              select doc_id, t, unnest(range(0, len(t) - 15 + 1)) as pos
              from toks0 where len(t) >= 15
            ), gh as (
              select doc_id, pos,
                     cast(('0x' || substr(md5(array_to_string(t[pos+1 : pos+15], ' ')),
                                          1, 15)) as bigint) as gh
              from pos
            ), m as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                     a.pos as pos_a, b.pos as pos_b
              from gh a join gh b on a.gh = b.gh and a.doc_id < b.doc_id
            ), isl as (
              select *, pos_a - pos_b as diag,
                     pos_a - row_number() over (
                       partition by doc_a, doc_b, pos_a - pos_b
                       order by pos_a) as islid
              from m
            ), spans as (
              select doc_b, min(pos_b) as start_b,
                     count(*) + 15 - 1 as mt
              from isl group by doc_a, doc_b, diag, islid
            ), removal as (
              select distinct doc_b as doc,
                     unnest(range(start_b, start_b + mt)) as pos
              from spans
            ), tokpos as (
              select doc_id as doc,
                     unnest([{'pos': i - 1, 'tok': t[i]}
                             for i in range(1, len(t) + 1)], recursive := true)
              from toks0
            ), kept as (
              select tp.doc, tp.pos, tp.tok
              from tokpos tp anti join removal r
                on tp.doc = r.doc and tp.pos = r.pos
            ), rebuilt as (
              select doc, string_agg(tok, ' ' order by pos) as text,
                     cast(count(*) as bigint) as kept
              from kept group by doc
            ), ntok as (
              select doc_id as doc, cast(len(t) as bigint) as n from toks0
            )
            select n.doc as doc_id, coalesce(r.text, '') as text,
                   n.n - coalesce(r.kept, 0) as removed_tokens
            from ntok n left join rebuilt r on n.doc = r.doc
        """,
        "q_contaminated_docs": """
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t,
                     substr(md5(cast(doc_id as varchar)), 1, 1) as bkt
              from documents
            ), bench as (
              select distinct
                     cast(('0x' || substr(md5(array_to_string(t[i+1 : i+13], ' ')),
                                          1, 15)) as bigint) as gh
              from (select t, unnest(range(0, len(t) - 13 + 1)) as i
                    from toks where bkt in ('0','1') and len(t) >= 13)
            ), corpus as (
              select doc_id,
                     list_distinct(
                       [cast(('0x' || substr(md5(array_to_string(t[i+1 : i+13], ' ')),
                                             1, 15)) as bigint)
                        for i in range(0, len(t) - 13 + 1)]) as ghs
              from toks where bkt not in ('0','1') and len(t) >= 13
            ), hits as (
              -- denominator = DISTINCT grams, matching the distinct
              -- numerator (raw window count would understate repeats)
              select doc_id, len(ghs) as ndis, unnest(ghs) as gh from corpus
            )
            select h.doc_id, cast(count(*) as bigint) as contaminated_grams,
                   cast(first(ndis) as bigint) as total_grams
            from hits h join bench b on h.gh = b.gh
            group by h.doc_id
        """,
        "q_pii_stats": """
            with """ + _PII_AUG_CTE + """,
            cands as (
              select doc_id, unnest(regexp_extract_all(text, '""" + _P_CC + """')) as c
              from aug
            ), rd as (
              select doc_id, reverse(regexp_replace(c, '[^0-9]', '', 'g')) as rd
              from cands
            ), lu as (
              select doc_id from rd where
                list_sum([case when i % 2 = 0 then
                    case when cast(rd[i] as int) * 2 > 9
                         then cast(rd[i] as int) * 2 - 9
                         else cast(rd[i] as int) * 2 end
                  else cast(rd[i] as int) end
                  for i in range(1, length(rd) + 1)]) % 10 = 0
            ), cc as (
              select doc_id, cast(count(*) as bigint) as credit_cards
              from lu group by doc_id
            ), base as (
              select doc_id,
                cast(len(regexp_extract_all(text, '""" + _P_EMAIL + """')) as bigint) as emails,
                cast(len(regexp_extract_all(text, '""" + _P_PHONE + """')) as bigint) as phones,
                cast(len(regexp_extract_all(text, '""" + _P_IP + """')) as bigint) as ip_addresses,
                cast(len(regexp_extract_all(text, '""" + _P_SSN + """')) as bigint) as ssns
              from aug
            )
            select b.doc_id, emails, phones, ip_addresses, ssns,
                   coalesce(cc.credit_cards, 0) as credit_cards,
                   emails + phones + ip_addresses + ssns
                     + coalesce(cc.credit_cards, 0) as pii_total
            from base b left join cc on b.doc_id = cc.doc_id
        """,
        "q_redacted_docs": """
            with """ + _PII_AUG_CTE + """
            select doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(text, '""" + _P_EMAIL + """', '[EMAIL]', 'g'),
                '""" + _P_CC + """', '[CARD]', 'g'),
                '""" + _P_SSN + """', '[SSN]', 'g'),
                '""" + _P_PHONE + """', '[PHONE]', 'g'),
                '""" + _P_IP + """', '[IP]', 'g') as text
            from aug
        """,
        "q_kmeans_clusters": _kmeans_oracle(k=8, iters=2, dim=64),
        "q_length_quantiles": """
            with lv as (
              select source,
                     cast(len(list_filter(string_split_regex(
                          trim(coalesce(text, '')), '\\s+'),
                          w -> w != '')) as bigint) as len_,
                     cast(count(*) as bigint) as c
              from documents
              group by 1, 2
            ), cum as (
              select source, len_,
                     cast(sum(c) over (partition by source order by len_
                          rows between unbounded preceding and current row)
                          as bigint) as cum,
                     cast(sum(c) over (partition by source)
                          as bigint) as n
              from lv
            )
            select source,
                   max(n) as docs,
                   min(case when 100 * cum >= 25 * n then len_ end)
                     as p25_tokens,
                   min(case when 100 * cum >= 50 * n then len_ end)
                     as p50_tokens,
                   min(case when 100 * cum >= 75 * n then len_ end)
                     as p75_tokens,
                   min(case when 100 * cum >= 95 * n then len_ end)
                     as p95_tokens
            from cum
            group by source
        """,
        "q_ngram_diversity": """
            with t as (
              select source,
                     string_split_regex(trim(coalesce(text, '')),
                                        '\\s+') as toks
              from documents
            ), tot as (
              select source,
                     cast(sum(greatest(len(toks) - 2, 0)) as bigint)
                       as total_grams
              from t group by 1
            ), g as (
              select distinct source,
                     unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
                             for i in range(1, len(toks) - 1)]) as gram
              from t where len(toks) >= 3
            ), d as (
              select source, cast(count(*) as bigint) as distinct_grams
              from g group by 1
            )
            select tot.source,
                   total_grams,
                   cast(coalesce(distinct_grams, 0) as bigint)
                     as distinct_grams,
                   cast(case when total_grams = 0 then 0
                        else (1000000 * coalesce(distinct_grams, 0))
                             // total_grams end as bigint) as diversity_ppm
            from tot left join d on tot.source = d.source
        """,
        "q_quality_quantiles": f"""
            with q as (
              select source, cast({quality_q_sql()} as bigint) as v
              from (select source,
                           string_split_regex(trim(coalesce(text, '')),
                                              '\\s+') as t
                    from documents)
            ), lv as (
              select source, v, cast(count(*) as bigint) as c
              from q group by 1, 2
            ), cum as (
              select source, v,
                     cast(sum(c) over (partition by source order by v
                          rows between unbounded preceding and current row)
                          as bigint) as cum,
                     cast(sum(c) over (partition by source)
                          as bigint) as n
              from lv
            )
            select source,
                   max(n) as docs,
                   min(case when 100 * cum >= 10 * n then v end)
                     as p10_quality_q,
                   min(case when 100 * cum >= 50 * n then v end)
                     as p50_quality_q,
                   min(case when 100 * cum >= 90 * n then v end)
                     as p90_quality_q
            from cum
            group by source
        """,
        "q_zorder_key": f"""
            select o_orderkey,
                   cast({zorder_key_sql(["_a", "_b"], 16, "//")} as bigint)
                     as zorder_key
            from (select o_orderkey,
                         o_custkey % 65536 as _a,
                         o_orderkey % 65536 as _b
                  from orders)
        """,
        "q_cluster_balance": """
            with asg as (
              select vec_id, cast(vec_id % 8 as bigint) as cluster_id
              from embeddings
            ), r as (
              select vec_id, cluster_id,
                     cast(row_number() over (partition by cluster_id
                          order by md5(cast(vec_id as varchar) || ':bal'),
                                   vec_id) as bigint) as bal_rank
              from asg
            )
            select vec_id, cluster_id, bal_rank
            from r where bal_rank <= 20
        """,
        "q_semantic_dedup": _semantic_dedup_oracle(
            k=8, iters=2, dim=64, threshold=0.42
        ),
        "q_overlap_audit": """
            with toks as (
              select doc_id, string_split(trim(text), ' ') as t from documents
            ), els as (
              select doc_id, 1 as page,
                unnest([
                  {'ix': 0, 'etype': 'Title',
                   'text': array_to_string(t[1:8], ' '),
                   'x1': 0.0, 'y1': 0.0, 'x2': 100.0, 'y2': 100.0},
                  {'ix': 1, 'etype': 'NarrativeText',
                   'text': array_to_string(t[4:11], ' '),
                   'x1': 10.0, 'y1': 10.0, 'x2': 90.0, 'y2': 90.0},
                  {'ix': 2, 'etype': 'Text',
                   'text': array_to_string(t[6:14], ' '),
                   'x1': 95.0, 'y1': 0.0, 'x2': 195.0, 'y2': 100.0},
                  {'ix': 3, 'etype': 'Text',
                   'text': array_to_string(t[9:17], ' '),
                   'x1': 150.0, 'y1': 0.0, 'x2': 260.0, 'y2': 100.0}
                ], recursive := true)
              from toks
            ), pr as (
              select a.doc_id, a.page,
                     a.ix as ixa, b.ix as ixb, a.etype as ta, b.etype as tb,
                     a.text as xa, b.text as xb,
                     (a.x2 - a.x1) * (a.y2 - a.y1) as area_a,
                     (b.x2 - b.x1) * (b.y2 - b.y1) as area_b,
                     greatest(least(a.x2, b.x2) - greatest(a.x1, b.x1), 0)
                       * greatest(least(a.y2, b.y2) - greatest(a.y1, b.y1), 0) as inter,
                     (b.x1 >= a.x1 - 5 and b.y1 >= a.y1 - 5
                      and b.x2 <= a.x2 + 5 and b.y2 <= a.y2 + 5) as a_parent,
                     (a.x1 >= b.x1 - 5 and a.y1 >= b.y1 - 5
                      and a.x2 <= b.x2 + 5 and a.y2 <= b.y2 + 5) as b_parent
              from els a join els b
                on a.doc_id = b.doc_id and a.page = b.page and a.ix < b.ix
                and a.x1 < b.x2 and a.x2 > b.x1 and a.y1 < b.y2 and a.y2 > b.y1
            ), fl as (
              select *,
                case when least(area_a, area_b) = 0 then 0.0
                     else floor(inter / least(area_a, area_b) * 100 * 100 + 0.5) / 100
                end as pct_partial,
                case when area_a + area_b - inter = 0 then 0.0
                     else floor(inter / (area_a + area_b - inter) * 100 * 100 + 0.5) / 100
                end as pct_total,
                a_parent as nested_a,
                (not a_parent) and b_parent as nested_b,
                (not a_parent) and (not b_parent) as partial
              from pr
            ), fl2 as (
              select *,
                partial and pct_partial < 10.0 as small,
                partial and pct_partial >= 10.0 and xa = '' as empty_a,
                partial and pct_partial >= 10.0 and xa <> '' and xb = '' as empty_b,
                partial and pct_partial >= 10.0 and xa <> '' and xb <> ''
                  and (contains(xb, xa) or contains(xa, xb)) as dup
              from fl
            ), shr as (
              select doc_id, ixa, ixb,
                     string_split(trim(xa), ' ') as wa,
                     string_split(trim(xb), ' ') as wb
              from fl2
              where partial and not small and not empty_a and not empty_b and not dup
            ), pa as (
              select doc_id, ixa, ixb,
                unnest([{'pa': i, 'tok': wa[i]} for i in range(1, len(wa) + 1)],
                       recursive := true)
              from shr
            ), pb as (
              select doc_id, ixa, ixb,
                unnest([{'pb': i, 'tok': wb[i]} for i in range(1, len(wb) + 1)],
                       recursive := true)
              from shr
            ), mm as (
              select a.doc_id, a.ixa, a.ixb, a.pa, b.pb
              from pa a join pb b
                on a.doc_id = b.doc_id and a.ixa = b.ixa and a.ixb = b.ixb
                and a.tok = b.tok
            ), runs as (
              select doc_id, ixa, ixb, count(*) as rl from (
                select *, pa - row_number() over (
                  partition by doc_id, ixa, ixb, pa - pb order by pa) as isl
                from mm
              ) group by doc_id, ixa, ixb, pa - pb, isl
            ), lrun as (
              select doc_id, ixa, ixb, max(rl) as lr
              from runs group by doc_id, ixa, ixb
            ), ng as (
              select s.doc_id, s.ixa, s.ixb,
                     least(coalesce(l.lr, 0), least(len(s.wa), len(s.wb)) - 1)
                       as nstar,
                     len(s.wa) as na, len(s.wb) as nb, s.wa, s.wb
              from shr s left join lrun l
                on s.doc_id = l.doc_id and s.ixa = l.ixa and s.ixb = l.ixb
            ), ngp as (
              select doc_id, ixa, ixb, nstar, na, nb,
                len(list_intersect(
                  list_distinct([array_to_string(wa[i+1 : i+nstar], ' ')
                                 for i in range(0, na - nstar + 1)]),
                  list_distinct([array_to_string(wb[i+1 : i+nstar], ' ')
                                 for i in range(0, nb - nstar + 1)])
                )) as common
              from ng where nstar >= 1
            ), ngf as (
              select doc_id, ixa, ixb, nstar,
                floor(common * 1.0 / (least(na, nb) - nstar + 1) * 100 * 100 + 0.5)
                  / 100 as npct
              from ngp where common > 0
            )
            select f.doc_id, f.page,
              case when f.nested_b or f.empty_b
                   then f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
                   else f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
              end as element_a,
              case when f.nested_b or f.empty_b
                   then f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
                   else f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
              end as element_b,
              case when f.nested_a then f.ta || '(ix=' || cast(f.ixa as varchar) || ')'
                   when f.nested_b then f.tb || '(ix=' || cast(f.ixb as varchar) || ')'
              end as parent_element,
              case
                when f.nested_a then 'nested ' || f.tb || ' in ' || f.ta
                when f.nested_b then 'nested ' || f.ta || ' in ' || f.tb
                when f.small then 'Small partial overlap'
                when f.empty_a then 'partial overlap with empty content in ' || f.ta
                when f.empty_b then 'partial overlap with empty content in ' || f.tb
                when f.dup then 'partial overlap with duplicate text'
                when g.npct is not null then
                  'partial overlap sharing ' || cast(g.npct as varchar)
                  || '% of the text from'
                  || case when len(string_split(trim(f.xa), ' '))
                            < len(string_split(trim(f.xb), ' '))
                          then f.ta else f.tb end
                  || '(' || cast(g.nstar as varchar) || '-gram)'
                else 'partial overlap without sharing text'
              end as overlapping_case,
              case when f.nested_a or f.nested_b then 100.0
                   else f.pct_partial end as overlap_pct,
              f.pct_total as overlap_pct_total,
              coalesce(g.npct, 0.0) as largest_ngram_pct,
              floor(greatest(f.area_a, f.area_b) * 100 + 0.5) / 100 as max_area,
              floor(least(f.area_a, f.area_b) * 100 + 0.5) / 100 as min_area,
              floor((f.area_a + f.area_b) * 100 + 0.5) / 100 as total_area
            from fl2 f left join ngf g
              on f.doc_id = g.doc_id and f.ixa = g.ixa and f.ixb = g.ixb
        """,
        "q_tfidf_top_terms": f"""
            with tf as (
              select doc_id, unnest(string_split(trim(text), ' ')) as term
              from documents
            ), tfc as (
              select doc_id, term, count(*) as tf
              from tf where term != '' group by doc_id, term
            ), dfreq as (
              select term, count(distinct doc_id) as df from tfc group by term
            ), lnn as (
              -- fixed-point integer ln(N): same fxln chain as Spark's
              -- driver-side fxln_int(N) literal (pinned equal by
              -- tests/test_fxln.py), so no libm on either engine.
              -- N rides in as a plain column: DuckDB's lateral aliases
              -- reject expressions that still contain a subquery
              select {fxln_select_sql("nv", "n_")}
              from (select count(*) as nv from documents)
            ), lnd as (
              select term, df, {fxln_select_sql("df", "d_")} from dfreq
            ), scored as (
              select t.doc_id, t.term,
                cast(t.tf * ((select n_ln from lnn) - d.d_ln)
                     as bigint) as tfidf_q
              from tfc t join lnd d on t.term = d.term
            )
            select doc_id, term, tfidf_q, cast(rank as bigint) as rank from (
              select *, row_number() over (
                partition by doc_id order by tfidf_q desc, term asc) as rank
              from scored
            ) where rank <= 3
        """,
        "q_readability": """
            with t as (
              select doc_id, trim(text) as s,
                cast(greatest(len(list_filter(string_split(trim(text), ' '),
                                              x -> x != '')), 1)
                     as bigint) as words
              from documents
            ), c as (
              select doc_id, words,
                cast(greatest(len(regexp_extract_all(s, '[.!?]+')), 1)
                     as bigint) as sentences,
                cast(len(regexp_extract_all(lower(s), '[aeiouy]+'))
                  + len(list_filter(string_split(lower(s), ' '),
                                    x -> not regexp_matches(x, '[aeiouy]')))
                  as bigint) as syllables
              from t
            )
            select doc_id, words, sentences, syllables,
              floor((206.835
                     - 1.015 * (cast(words as double) / cast(sentences as double))
                     - 84.6 * (cast(syllables as double) / cast(words as double)))
                    * 10000 + 0.5) / 10000 as flesch
            from c
        """,
        "q_bm25_search": """
            with t as (
              select doc_id, string_split(trim(text), ' ') as w,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as dl
              from documents
            ), tf as (
              select doc_id, dl,
                     cast(len(list_filter(w, x -> x = 'spark')) as double) as tf0,
                     cast(len(list_filter(w, x -> x = 'vector')) as double) as tf1,
                     cast(len(list_filter(w, x -> x = 'customer')) as double) as tf2
              from t
            ), st as (
              select cast(count(*) as bigint) as n, sum(dl) as sum_dl,
                     sum(case when tf0 > 0 then 1 else 0 end) as df0,
                     sum(case when tf1 > 0 then 1 else 0 end) as df1,
                     sum(case when tf2 > 0 then 1 else 0 end) as df2
              from tf
            ), scored as (
              select doc_id,
                0.0
                + ln((cast(st.n - st.df0 as double) + 0.5)
                     / (cast(st.df0 as double) + 0.5) + 1)
                  * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df1 as double) + 0.5)
                     / (cast(st.df1 as double) + 0.5) + 1)
                  * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df2 as double) + 0.5)
                     / (cast(st.df2 as double) + 0.5) + 1)
                  * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                as raw,
                tf0 + tf1 + tf2 as anytf
              from tf cross join st
            )
            select doc_id, floor(raw * 1000000.0 + 0.5) / 1000000.0 as score
            from scored where anytf > 0
        """,
        "q_image_dhash_pairs": _dhash_pairs_sql(),
        "q_form_kv_text": r"""
            with toks as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), synth as (
              select doc_id,
                     array_to_string(w[1:2], ' ') || ': '
                       || array_to_string(w[3:5], ' ') as line
              from toks where len(w) >= 5
            )
            select doc_id, cast(0 as bigint) as line_no,
                   regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 1)
                     as key,
                   regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 2)
                     as value
            from synth
            where regexp_extract(line, '^\s*([^:]{1,80}?)\s*:\s*(.*\S)\s*$', 1)
                  != ''
        """,
        "q_dedup_incremental": _LSH_SPLIT_CTE + """
            select doc_id, text from newdocs
        """,
        "q_remove_boilerplate": """
            with lines as (
              select doc_id, i as pos, ls[i] as line,
                     md5(lower(trim(regexp_replace(ls[i], '\\s+', ' ', 'g'))))
                       as fp,
                     trim(regexp_replace(ls[i], '\\s+', ' ', 'g')) != ''
                       as nonblank
              from (select doc_id,
                           string_split(coalesce(text, ''), chr(10)) as ls
                    from documents) t,
                   unnest(range(1, len(ls) + 1)) as u(i)
            ), frequent as (
              select fp from lines where nonblank
              group by fp having count(distinct doc_id) >= 2
            ), kept as (
              select * from lines where fp not in (select fp from frequent)
            ), rebuilt as (
              select doc_id,
                     string_agg(line, chr(10) order by pos) as clean,
                     count(*) as nkept
              from kept group by doc_id
            ), counts as (
              select doc_id, count(*) as nlines from lines group by doc_id
            )
            select c.doc_id,
                   coalesce(r.clean, '') as text,
                   cast(c.nlines - coalesce(r.nkept, 0) as bigint)
                     as removed_lines
            from counts c left join rebuilt r using (doc_id)
        """,
        "q_bigram_cross_entropy": f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}
            select doc_id,
                   cast((2 * sum(nlq) + count(*)) // (2 * count(*))
                        as double) / 1000000.0 as cross_entropy,
                   cast(count(*) as bigint) as n_bigrams
            from nll group by doc_id
        """,
        "q_nb_classify": _NB_RANKED_CTE + """
            select cast(doc_id as varchar) as doc_id,
                   max(case when rn = 1 then cls end) as predicted,
                   max(case when rn = 1 then score end) as score_q,
                   cast(coalesce(max(case when rn = 1 then score end)
                          - max(case when rn = 2 then score end), 0) as bigint)
                     as margin_q
            from ranked group by doc_id
        """,
        "q_dsir_importance": """
            with feats as (
              select doc_id,
                list_concat(
                  list_filter(string_split(trim(text), ' '), x -> x != ''),
                  case when len(list_filter(string_split(trim(text), ' '),
                                            x -> x != '')) >= 2
                    then [list_filter(string_split(trim(text), ' '),
                                      x -> x != '')[i] || '_' ||
                          list_filter(string_split(trim(text), ' '),
                                      x -> x != '')[i + 1]
                          for i in range(1,
                            len(list_filter(string_split(trim(text), ' '),
                                            x -> x != '')))]
                    else [] end) as fs
              from documents
            ), ex as (
              select doc_id,
                cast(('0x' || substr(md5(g), 1, 15)) as bigint) % 4096 as b
              from (select doc_id, unnest(fs) as g from feats)
            ), tgt as (
              select b, count(*) as ct from ex where doc_id < 20 group by b
            ), raw as (
              select b, count(*) as cr from ex group by b
            ), nt as (select count(*) as n from ex where doc_id < 20),
            nr as (select count(*) as n from ex),
            dist as (
              select g.b,
                cast(floor((ln(cast(coalesce(t.ct, 0) + 1 as double)
                              / ((select n from nt) + 4096))
                          - ln(cast(coalesce(r.cr, 0) + 1 as double)
                              / ((select n from nr) + 4096)))
                          * 1000000000.0 + 0.5) as bigint) as lrq
              from (select unnest(range(0, 4096)) as b) g
              left join tgt t on g.b = t.b
              left join raw r on g.b = r.b
            ), scored as (
              select ex.doc_id,
                     cast(count(*) as bigint) as n_features,
                     sum(d.lrq) as lwq
              from ex join dist d on ex.b = d.b
              group by ex.doc_id
            )
            select doc_id, n_features,
                   floor((cast(lwq as double) / 1000000000.0) * 1000000.0
                         + 0.5) / 1000000.0 as log_weight,
                   floor(exp(floor((cast(lwq as double) / 1000000000.0)
                                   * 1000000.0 + 0.5) / 1000000.0)
                         * 1000000.0 + 0.5) / 1000000.0 as weight
            from scored
        """,
        "q_perplexity_buckets": f"""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(text), ' '), x -> x != '') as w
              from documents
            ), tb as (
              select doc_id, w from t where len(w) >= 2
            ), b as (
              select doc_id, w[i] as w1, w[i + 1] as w2
              from tb, unnest(range(1, len(w))) as u(i)
            ), bc as (
              select w1, w2, count(*) as c12 from b group by w1, w2
            ), uc as (
              select w1, count(*) as c1 from b group by w1
            ), vocab as (
              select count(distinct t) as v from (
                select w1 as t from b union select w2 as t from b)
            ){_NLL_FX_CTE}, ced as (
              select doc_id,
                     cast((2 * sum(nlq) + count(*)) // (2 * count(*))
                          as double) / 1000000.0 as cross_entropy,
                     cast(count(*) as bigint) as n_bigrams
              from nll group by doc_id
            ), qd as (
              select *, cast(round(cross_entropy * 1000000.0) as bigint) as q
              from ced
            ), hist as (
              select q, count(*) as cnt from qd group by q
            ), mapping as (
              -- r9 root-cause fix: the window sum is HUGEINT in DuckDB,
              -- and a HUGEINT output column crosses the driver's fetch
              -- wire as decimal/float64 ("2.0" vs Spark's "2") — the
              -- r5-r8 red was the WIRE TYPE, not the math. Cast the
              -- cumsum to bigint (the proven-green q_token_shards
              -- pattern) so bucket is BIGINT end-to-end.
              select q,
                least(cast(3 as bigint),
                  ((cast(sum(cnt) over (order by q rows between unbounded
                     preceding and current row) as bigint) - cnt) * 3)
                    // (select count(*) from qd) + 1) as bucket
              from hist
            )
            select qd.doc_id, qd.cross_entropy, qd.n_bigrams, m.bucket
            from qd join mapping m on qd.q = m.q
        """,
        "q_token_kl_drift": """
            with tok0 as (
              select source as shard,
                     unnest(list_filter(string_split(trim(text), ' '),
                                        x -> x != '')) as t
              from documents
            ), cc as (
              -- top-500 vocabulary by corpus frequency, token tiebreak
              -- (mirrors token_kl_drift(max_vocab=500))
              select t, count(*) as c from tok0 group by t
              order by c desc, t asc limit 500
            ), tok as (
              select tok0.shard, tok0.t from tok0 join cc using (t)
            ), sc as (
              select shard, t, count(*) as cs from tok group by shard, t
            ), stot as (
              select shard, count(*) as ns from tok group by shard
            ), tot as (
              select count(*) as n, count(distinct t) as v from tok
            ), grid as (
              select s.shard, s.ns, c.t, c.c from stot s cross join cc c
            ), terms as (
              select g.shard,
                cast(coalesce(sc.cs, 0) + 1 as double)
                  / cast(g.ns + (select v from tot) as double) as ps,
                cast(g.c + 1 as double)
                  / cast((select n from tot) + (select v from tot) as double) as q
              from grid g left join sc on sc.shard = g.shard and sc.t = g.t
            ), quant as (
              select shard,
                cast(floor(ps * ln(ps / q) * 1000000000000.0 + 0.5)
                     as bigint) as tq
              from terms
            )
            select shard as source,
                   floor(greatest(cast(sum(tq) as double) / 1000000000000.0,
                                  0.0) * 1000000.0 + 0.5) / 1000000.0
                     as kl_divergence
            from quant group by shard
        """,
        "q_hybrid_rrf": """
            with t as (
              select doc_id, string_split(trim(text), ' ') as w,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as dl
              from documents
            ), tf as (
              select doc_id, dl,
                     cast(len(list_filter(w, x -> x = 'spark')) as double) as tf0,
                     cast(len(list_filter(w, x -> x = 'vector')) as double) as tf1,
                     cast(len(list_filter(w, x -> x = 'customer')) as double) as tf2
              from t
            ), st as (
              select cast(count(*) as bigint) as n, sum(dl) as sum_dl,
                     sum(case when tf0 > 0 then 1 else 0 end) as df0,
                     sum(case when tf1 > 0 then 1 else 0 end) as df1,
                     sum(case when tf2 > 0 then 1 else 0 end) as df2
              from tf
            ), scored as (
              select doc_id,
                0.0
                + ln((cast(st.n - st.df0 as double) + 0.5)
                     / (cast(st.df0 as double) + 0.5) + 1)
                  * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df1 as double) + 0.5)
                     / (cast(st.df1 as double) + 0.5) + 1)
                  * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                + ln((cast(st.n - st.df2 as double) + 0.5)
                     / (cast(st.df2 as double) + 0.5) + 1)
                  * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * cast(dl as double)
                       / (cast(st.sum_dl as double) / cast(st.n as double)))))
                as raw,
                tf0 + tf1 + tf2 as anytf
              from tf cross join st
            ), lex as (
              select doc_id, rank from (
                select doc_id,
                  cast(row_number() over (
                    order by floor(raw * 1000000.0 + 0.5) / 1000000.0 desc,
                             doc_id asc) as bigint) as rank
                from scored where anytf > 0
              ) where rank <= 20
            ), demb as (
              select e.vec_id,
                     list_transform(e.embedding, x -> cast(x as double)) as v
              from embeddings e join documents d on e.vec_id = d.doc_id
            ), qv as (
              select v as q from demb where vec_id = 0
            ), sims as (
              select c.vec_id as doc_id,
                round(list_aggregate(list_transform(range(1, 65),
                    i -> c.v[i] * qv.q[i]), 'sum')
                  / (sqrt(list_aggregate(list_transform(c.v, x -> x * x), 'sum'))
                     * sqrt(list_aggregate(list_transform(qv.q, x -> x * x), 'sum'))),
                  6) as cos
              from demb c cross join qv
              where c.vec_id <> 0
            ), ann as (
              select doc_id, rank from (
                select doc_id,
                  cast(row_number() over (order by cos desc, doc_id asc)
                       as bigint) as rank
                from sims
              ) where rank <= 20
            ), unioned as (
              select doc_id, rank from lex
              union all
              select doc_id, rank from ann
            ), fused as (
              select doc_id, sum(1.0 / (60.0 + cast(rank as double))) as rrf,
                     cast(count(*) as bigint) as n_lists
              from unioned group by doc_id
            )
            select doc_id,
                   floor(rrf * 1000000.0 + 0.5) / 1000000.0 as rrf_score,
                   n_lists,
                   cast(fused_rank as bigint) as fused_rank
            from (
              select *, row_number() over (order by rrf desc, doc_id asc)
                        as fused_rank
              from fused
            ) where fused_rank <= 10
        """,
        "q_weighted_sample": """
            with u as (
              select doc_id, n_chars,
                cast(('0x'||substr(md5(cast(doc_id as varchar)||'ws-v1'),
                                   1, 15)) as bigint)
                  / 1152921504606846976.0 as u
              from documents where n_chars > 0
            ), keyed as (
              select doc_id, n_chars,
                     -ln(u) / cast(n_chars as double) as wsk
              from u where u > 0
            )
            select doc_id, cast(n_chars as bigint) as n_chars,
                   floor(wsk * 1000000000.0 + 0.5) / 1000000000.0
                     as sampling_key
            from (
              select *, row_number() over (order by wsk asc, doc_id asc)
                        as rnk
              from keyed
            ) where rnk <= 50
        """,
        "q_temperature_mix": """
            with counts as (
              select source, count(*) as n from documents
              where source is not null group by source
            ), z as (
              select sum(pow(n, 0.5)) as z from counts
            ), fr as (
              select source,
                     floor(least(1.0, 200.0 * (pow(n, 0.5) / (select z from z))
                                 / n) * 1000000.0 + 0.5)
                       / 1000000.0 as f
              from counts
            )
            select d.doc_id, d.source
            from documents d join fr using (source)
            where cast(('0x' || substr(md5(cast(d.doc_id as varchar) || 'temp-v1'),
                                       1, 15)) as bigint)
                  / 1152921504606846976.0 < fr.f
        """,
        "q_stratified_sample": """
            select doc_id, source from documents
            where cast(('0x' || substr(md5(cast(doc_id as varchar) || 'mix-v1'),
                                       1, 15)) as bigint)
                  / 1152921504606846976.0
                < case source when 'src0' then 1.0
                              when 'src1' then 0.5
                              else 0.1 end
        """,
        "q_pack_sequences": """
            with t as (
              select doc_id,
                     cast(len(list_filter(string_split(trim(text), ' '),
                                          x -> x != '')) as bigint) as n
              from documents
            ), p as (
              select doc_id, n,
                     cast(coalesce(sum(n) over (order by doc_id
                       rows between unbounded preceding and 1 preceding), 0)
                       as bigint) as gstart
              from t
            ), e as (
              select doc_id, gstart, gstart + n as gend,
                     unnest(range(gstart // 256, (gstart + n - 1) // 256 + 1))
                       as seq_id
              from p where n > 0
            )
            select doc_id, seq_id,
                   greatest(seq_id * 256, gstart) - gstart as doc_token_start,
                   least((seq_id + 1) * 256, gend) - gstart as doc_token_end,
                   greatest(seq_id * 256, gstart) - seq_id * 256 as seq_token_start
            from e
        """,
        "q_salted_user_value": """
            with agg as (
              select user_id, count(*) as n,
                     cast(sum(cast(value as decimal(18,6))) as double) as td
              from events group by user_id
            )
            select user_id, n,
                   floor(td * 10000.0 + 0.5) / 10000.0 as total,
                   floor(td / n * 1000000.0 + 0.5) / 1000000.0 as mean
            from agg
        """,
        "q_od_map": """
            with boxes as (
              select 'c' || cast(doc_id % 3 as varchar) as cls,
                     cast(doc_id % 13 as double) as s,
                     cast(doc_id as double) as score
              from documents
            ),
            m as (
              select cls, score, t.iou_threshold,
                     case when s < 10
                           and (10 - s) / (10 + s) > t.iou_threshold
                          then 1 else 0 end as tp
              from boxes,
                   (select unnest([0.5, 0.75]::double[]) as iou_threshold) t
            ),
            npos as (select cls, count(*) as npos from boxes group by cls),
            ranked as (
              select m.cls, m.iou_threshold, m.score, m.tp, npos.npos,
                row_number() over w as rnk,
                sum(m.tp) over (partition by m.cls, m.iou_threshold
                                order by m.score desc, m.tp desc
                                rows between unbounded preceding
                                         and current row) as cum_tp
              from m join npos on m.cls = npos.cls
              window w as (partition by m.cls, m.iou_threshold
                           order by m.score desc, m.tp desc)
            ),
            curve as (
              select cls, iou_threshold, score, tp,
                cast(cum_tp as double) / rnk as precision,
                cast(cum_tp as double) / npos as recall
              from ranked
            ),
            interp as (
              select cls, iou_threshold, recall,
                max(precision) over (
                  partition by cls, iou_threshold
                  order by score desc, tp desc
                  rows between current row and unbounded following
                ) as p_interp,
                recall - coalesce(lag(recall) over (
                  partition by cls, iou_threshold
                  order by score desc, tp desc), 0) as d_recall
              from curve
            )
            select cls, round(iou_threshold, 2) as iou_threshold,
                   round(round(sum(d_recall * p_interp), 6), 4) as ap
            from interp group by cls, iou_threshold
        """,
        "q12_late_lines": """
            select o_orderpriority,
              cast(sum(case when date_diff('day', o_orderdate, l_shipdate) > 60
                        and o_orderpriority in ('1-URGENT', '2-HIGH')
                       then 1 else 0 end) as bigint) as late_urgent,
              cast(sum(case when date_diff('day', o_orderdate, l_shipdate) > 60
                        and o_orderpriority not in ('1-URGENT', '2-HIGH')
                       then 1 else 0 end) as bigint) as late_other,
              count(*) as line_count
            from lineitem join orders on l_orderkey = o_orderkey
            group by o_orderpriority
        """,
        "q14_promo_revenue": """
            select round(
              100.0 * sum(case when p_type = 'PROMO'
                               then l_extendedprice * (1 - l_discount)
                               else 0.0 end)
              / sum(l_extendedprice * (1 - l_discount)), 4) as promo_revenue_pct
            from lineitem join part on l_partkey = p_partkey
            where l_shipdate >= '1995-09-01' and l_shipdate < '1995-10-01'
        """,
        "q19_bracket_revenue": """
            select round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
                   count(*) as line_count
            from lineitem join part on l_partkey = p_partkey
            where (p_brand = 'Brand#1' and p_size between 1 and 15
                   and l_quantity between 1 and 20)
               or (p_brand = 'Brand#13' and p_size between 10 and 30
                   and l_quantity between 10 and 40)
        """,
        "q02_min_cost_supplier": """
            with """ + _PARTSUPP_CTE + """
            , j as (
              select round(s_acctbal, 2) as s_acctbal, s_name, n_name,
                     p_partkey, p_name,
                     ps_supplycost,
                     min(ps_supplycost) over (partition by ps_partkey)
                       as min_cost
              from partsupp
                join part on ps_partkey = p_partkey
                join supplier on ps_suppkey = s_suppkey
                join nation on s_nationkey = n_nationkey
                join region on n_regionkey = r_regionkey
              where p_type = 'LARGE' and p_size < 10 and r_name = 'ASIA'
            )
            select s_acctbal, s_name, n_name, p_partkey, p_name,
                   cast(ps_supplycost as double) as supplycost
            from j where ps_supplycost = min_cost
            order by s_acctbal desc, n_name asc, s_name asc, p_partkey asc
            limit 100
        """,
        "q11_important_stock": """
            with """ + _PARTSUPP_CTE + """
            , j as (
              select ps_partkey, ps_supplycost * ps_availqty as v
              from partsupp
                join supplier on ps_suppkey = s_suppkey
                join nation on s_nationkey = n_nationkey
              where n_name = 'NATION_3'
            )
            select ps_partkey, cast(sum(v) as double) as stock_value
            from j
            group by ps_partkey
            having cast(sum(v) as double)
                   > (select cast(sum(v) as double) from j) * 0.001
        """,
        "q16_supplier_count": """
            with """ + _PARTSUPP_CTE + """
            select p_brand, p_type, cast(p_size as bigint) as p_size,
                   count(distinct ps_suppkey) as supplier_cnt
            from partsupp join part on ps_partkey = p_partkey
            where p_brand <> 'Brand#1' and p_size < 15
              and ps_suppkey not in (
                select s_suppkey from supplier where s_acctbal < 0)
            group by p_brand, p_type, p_size
        """,
        "q20_excess_stock_suppliers": """
            with """ + _PARTSUPP_CTE + """
            , shipped as (
              select l_partkey as pk, l_suppkey as sk,
                     sum(cast(l_quantity as decimal(18,6))) as qty
              from lineitem
              where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01'
              group by 1, 2
            )
            select s_suppkey, s_name
            from supplier join nation on s_nationkey = n_nationkey
            where n_name = 'NATION_3'
              and s_suppkey in (
                select ps_suppkey
                from partsupp join shipped
                  on ps_partkey = pk and ps_suppkey = sk
                where cast(ps_availqty as double) > cast(qty as double) * 0.3)
        """,
        "q07_nation_volume": """
            select n1.n_name as supp_nation, n2.n_name as cust_nation,
                   cast(year(l_shipdate) as bigint) as l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from lineitem
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
              join supplier on l_suppkey = s_suppkey
              join nation n1 on s_nationkey = n1.n_nationkey
              join nation n2 on c_nationkey = n2.n_nationkey
            where (n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
               or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1')
            group by 1, 2, 3
        """,
        "q08_market_share": """
            with j as (
              select year(o_orderdate) as o_year,
                     cast(l_extendedprice * (1 - l_discount) as decimal(18,6)) as rev,
                     n2.n_name as supp_nation
              from lineitem
                join orders on l_orderkey = o_orderkey
                join customer on o_custkey = c_custkey
                join part on l_partkey = p_partkey
                join supplier on l_suppkey = s_suppkey
                join nation n1 on c_nationkey = n1.n_nationkey
                join nation n2 on s_nationkey = n2.n_nationkey
                join region on n1.n_regionkey = r_regionkey
              where r_name = 'EUROPE' and p_type = 'PROMO'
            ), agg as (
              select o_year,
                     cast(sum(case when supp_nation = 'NATION_5' then rev end)
                          as double) as nat,
                     cast(sum(rev) as double) as tot
              from j group by o_year
            )
            select cast(o_year as bigint) as o_year,
                   floor(coalesce(nat, 0.0) / tot * 1000000.0 + 0.5) / 1000000.0
                     as mkt_share
            from agg
        """,
        "q10_returned_items": """
            select c_custkey, c_name, round(c_acctbal, 2) as c_acctbal, n_name,
                   revenue
            from (
              select c_custkey, c_name, c_acctbal, n_name,
                     cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                       as decimal(18,6))), 2) as double) as revenue
              from lineitem
                join orders on l_orderkey = o_orderkey
                join customer on o_custkey = c_custkey
                join nation on c_nationkey = n_nationkey
              where l_returnflag = 'R'
                and o_orderdate >= '1996-01-01' and o_orderdate < '1996-04-01'
              group by c_custkey, c_name, c_acctbal, n_name
            )
            order by revenue desc, c_custkey asc
            limit 20
        """,
        "q13_order_count_distribution": """
            select cast(c_count as bigint) as c_count,
                   count(*) as custdist
            from (
              select c_custkey, count(o_orderkey) as c_count
              from customer left join orders
                on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
              group by c_custkey
            )
            group by c_count
        """,
        "q15_top_supplier": """
            with per_supp as (
              select l_suppkey,
                     sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)))
                       as rev
              from lineitem
              where l_shipdate >= '1996-01-01' and l_shipdate < '1996-04-01'
              group by l_suppkey
            )
            select s_suppkey, s_name,
                   cast(round(rev, 2) as double) as total_revenue
            from per_supp join supplier on l_suppkey = s_suppkey
            where rev = (select max(rev) from per_supp)
        """,
        "q17_small_quantity_revenue": """
            with li_p as (
              select l_partkey, l_quantity, l_extendedprice
              from lineitem join part on l_partkey = p_partkey
              where p_brand = 'Brand#1'
            ), per_part as (
              select l_partkey as pk,
                     cast(sum(cast(l_quantity as decimal(18,6))) as double)
                       / count(*) as avg_qty
              from li_p group by l_partkey
            )
            select round(
              cast(sum(cast(l_extendedprice as decimal(18,6))) as double) / 7.0,
              2) as avg_yearly
            from li_p join per_part on l_partkey = pk
            where l_quantity < 0.2 * avg_qty
        """,
        "q18_large_orders": """
            with big as (
              select l_orderkey,
                     sum(cast(l_quantity as decimal(18,6))) as qty
              from lineitem group by l_orderkey
              having sum(cast(l_quantity as decimal(18,6))) > 150
            )
            select c_name, c_custkey, o_orderkey,
                   cast(o_orderdate as date) as o_orderdate,
                   round(o_totalprice, 2) as o_totalprice,
                   cast(round(qty, 2) as double) as total_qty
            from big
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
            order by round(o_totalprice, 2) desc, o_orderkey asc
            limit 100
        """,
        "q21_sole_late_supplier": """
            with per_os as (
              select l_orderkey, l_suppkey,
                     max(case when date_diff('day', o_orderdate, l_shipdate) > 90
                              then 1 else 0 end) as supp_late
              from lineitem join orders on l_orderkey = o_orderkey
              group by l_orderkey, l_suppkey
            ), flagged as (
              select l_suppkey, supp_late,
                     count(*) over (partition by l_orderkey) as n_supps,
                     sum(supp_late) over (partition by l_orderkey) as n_late
              from per_os
            )
            select s_name, count(*) as numwait
            from flagged join supplier on l_suppkey = s_suppkey
            where supp_late = 1 and n_late = 1 and n_supps > 1
            group by s_name
            order by numwait desc, s_name asc
            limit 20
        """,
        "q22_idle_customers": """
            with c as (
              select * from customer where c_nationkey < 7
            ), stats as (
              select cast(sum(cast(c_acctbal as decimal(18,6))) as double)
                       / count(*) as thresh
              from c where c_acctbal > 0.0
            )
            select cast(c_nationkey as bigint) as c_nationkey,
                   count(*) as numcust,
                   round(cast(sum(cast(c_acctbal as decimal(18,6))) as double), 2)
                     as totacctbal
            from c, stats
            where c_acctbal > thresh
              and not exists (select 1 from orders
                              where o_custkey = c_custkey
                                and o_orderdate >= '2000-01-01')
            group by c_nationkey
        """,
        "q_asof_join": """
            select l.event_id, l.user_id,
              (select arg_max(r.event_id, r.ts) from events r
                where r.event_type = 'click' and r.user_id = l.user_id
                  and r.ts <= l.ts) as click_event_id,
              (select date_diff('second', max(r.ts), l.ts) from events r
                where r.event_type = 'click' and r.user_id = l.user_id
                  and r.ts <= l.ts) as lag_seconds
            from events l
            where l.event_type = 'error'
        """,
        "q_range_join": """
            select l.event_id as left_id, r.event_id as right_id, l.user_id
            from events l
            join events r
              on l.user_id = r.user_id
             and abs(date_diff('second', r.ts, l.ts)) <= 300
            where l.event_type = 'error' and r.event_type = 'click'
        """,
        "q_hash_embeddings": """
            with toks as (
              select doc_id,
                list_filter(
                  string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                  t -> t <> '') as ts
              from documents
            ), vecs as (
              select doc_id,
                [ coalesce(list_aggregate(list_transform(
                    list_filter(ts,
                      t -> cast(('0x' || substr(md5(t), 1, 8)) as bigint) % 8 = b),
                    t -> case when cast(('0x' || substr(md5(t), 9, 2)) as int) % 2 = 1
                         then 1.0 else -1.0 end), 'sum'), 0.0)
                  for b in range(0, 8) ] as raw
              from toks
            ), normed as (
              select doc_id, raw,
                sqrt(list_aggregate(list_transform(raw, x -> x * x), 'sum')) as nrm
              from vecs
            )
            select doc_id,
              array_to_string(
                -- the engine ships embeddings as float32 (Arrow wire);
                -- replay that narrowing (cast ... as real) BEFORE the
                -- round-to-4, or a double like 11/sqrt(445) =
                -- 0.52145000094... rounds UP while its float32 image
                -- 0.52144998... rounds DOWN (bit us at sf0.1, doc 2146)
                case when nrm > 0
                     then list_transform(raw, x ->
                       cast(cast(round(cast(cast(x / nrm as real) as double), 4)
                            as decimal(10,4)) as varchar))
                     else list_transform(raw, x ->
                       cast(cast(round(cast(cast(x as real) as double), 4)
                            as decimal(10,4)) as varchar)) end,
                ',') as vec
            from normed
        """,
        "q_percent_missing": """
            with srcb as (
              select doc_id, tok, count(*) as n_src from (
                select doc_id,
                  unnest(string_split(
                    trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) as tok
                from documents)
              where tok <> '' group by doc_id, tok
            ), outb as (
              select doc_id, tok, count(*) as n_out from (
                select doc_id,
                  unnest(string_split(
                    trim(regexp_replace(
                      substr(text, 1, cast(floor(length(text) * 0.6) as int)),
                      '\\s+', ' ', 'g')), ' ')) as tok
                from documents)
              where tok <> '' group by doc_id, tok
            )
            select s.doc_id,
              round(cast(sum(greatest(0, n_src - coalesce(n_out, 0))) as double)
                    / sum(n_src), 6) as percent_missing
            from srcb s left join outb o
              on s.doc_id = o.doc_id and s.tok = o.tok
            group by s.doc_id
        """,
        # Layout-box operators: +1 pixel-inclusive IoU/subregion math
        # with EPSILON_AREA=0.01 (reference pdfminer_processing.py:677-748);
        # boxes regenerated from documents with integer arithmetic.
        "q_box_dedup": """
            with g as (
              select cast(doc_id as varchar) as doc_id,
                     cast(doc_id as bigint) as d, t.i as i,
                     case when t.i % 4 = 3 then t.i - 1 else t.i end as base,
                     case when t.i % 4 = 3
                          then (cast(doc_id as bigint) + t.i) % 3 else 0 end as jx,
                     case when t.i % 4 = 3
                          then (cast(doc_id as bigint) * 3 + t.i) % 3 else 0 end as jy
              from documents cross join range(0, 8) t(i)
            ), boxes as (
              select doc_id, cast(i as bigint) as box_id,
                cast((d*37 + base*131) % 900 + jx as double) as x1,
                cast((d*53 + base*197) % 900 + jy as double) as y1,
                cast((d*37 + base*131) % 900 + jx
                     + 20 + (d + base*29) % 100 as double) as x2,
                cast((d*53 + base*197) % 900 + jy
                     + 8 + (d*7 + base*17) % 30 as double) as y2
              from g
            )
            select a.doc_id, a.box_id, a.x1, a.y1, a.x2, a.y2
            from boxes a
            where not exists (
              select 1 from boxes b
              where b.doc_id = a.doc_id and b.box_id > a.box_id
                and greatest(least(a.x2,b.x2)-greatest(a.x1,b.x1)+1, 0)
                  * greatest(least(a.y2,b.y2)-greatest(a.y1,b.y1)+1, 0)
                  > 0.5 * greatest(0.01,
                      (a.x2-a.x1+1)*(a.y2-a.y1+1) + (b.x2-b.x1+1)*(b.y2-b.y1+1)
                      - greatest(least(a.x2,b.x2)-greatest(a.x1,b.x1)+1, 0)
                        * greatest(least(a.y2,b.y2)-greatest(a.y1,b.y1)+1, 0))
            )
        """,
        "q_clean_inner_boxes": """
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), pdfm as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            )
            select doc_id, 'inferred' as source, box_id, x1, y1 from hosts
            union all
            select p.doc_id, 'pdfminer' as source, p.box_id, p.x1, p.y1
            from pdfm p
            where (
              select count(*) from hosts h
              where h.doc_id = p.doc_id
                and greatest(least(p.x2,h.x2)-greatest(p.x1,h.x1)+1, 0)
                  * greatest(least(p.y2,h.y2)-greatest(p.y1,h.y1)+1, 0)
                  > 0.99 * greatest(0.01, (p.x2-p.x1+1)*(p.y2-p.y1+1))
                and (p.x2-p.x1+1)*(p.y2-p.y1+1) <= (h.x2-h.x1+1)*(h.y2-h.y1+1)
            ) <> 1
        """,
        # coverage IoU uses PLAIN areas (reference calculate_bbox_area,
        # pdfminer_processing.py:1392-1405) while the subregion mask
        # keeps the +1 form — mirrored exactly from the Spark operator.
        "q_embed_text_agg": """
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), pdfm as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                'w' || cast(doc_id as varchar) || '_' || cast(t.i as varchar) as text,
                'true' as is_extracted,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            ), joined as (
              select t.doc_id, t.box_id,
                (t.x2-t.x1)*(t.y2-t.y1) as t_area,
                s.box_id as s_id, s.text, s.is_extracted,
                greatest(least(t.x2,s.x2)-greatest(t.x1,s.x1), 0)
                  * greatest(least(t.y2,s.y2)-greatest(t.y1,s.y1), 0) as inter,
                (s.x2-s.x1)*(s.y2-s.y1) as s_area
              from hosts t left join pdfm s
                on s.doc_id = t.doc_id
                and greatest(least(s.x2,t.x2)-greatest(s.x1,t.x1)+1, 0)
                  * greatest(least(s.y2,t.y2)-greatest(s.y1,t.y1)+1, 0)
                  > 0.99 * greatest(0.01, (s.x2-s.x1+1)*(s.y2-s.y1+1))
                and (s.x2-s.x1+1)*(s.y2-s.y1+1) <= (t.x2-t.x1+1)*(t.y2-t.y1+1)
            )
            select doc_id, box_id,
              coalesce(string_agg(text, ' ' order by s_id), '') as agg_text,
              case when count(s_id) = 0 then 'false'
                   when min(case when is_extracted = 'true' then 1 else 0 end) = 1
                        and (case when t_area + sum(s_area) - sum(inter) = 0 then 1.0
                             else sum(inter) / (t_area + sum(s_area) - sum(inter))
                             end) > 0.25
                   then 'true' else 'partial' end as agg_is_extracted
            from joined
            group by doc_id, box_id, t_area
        """,
        "q_ocr_supplement": """
            with hosts as (
              select cast(doc_id as varchar) as doc_id,
                cast(100 + t.j as bigint) as box_id,
                case when t.j = 0 then 'Table' else 'NarrativeText' end as kind,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500 as double) as x1,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500 as double) as y1,
                cast((cast(doc_id as bigint)*11 + t.j*401) % 500
                     + 300 + cast(doc_id as bigint) % 180 as double) as x2,
                cast((cast(doc_id as bigint)*13 + t.j*257) % 500
                     + 200 + cast(doc_id as bigint) % 120 as double) as y2
              from documents cross join range(0, 2) t(j)
            ), ocr as (
              select cast(doc_id as varchar) as doc_id,
                cast(t.i as bigint) as box_id,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950 as double) as x1,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950 as double) as y1,
                cast((cast(doc_id as bigint)*19 + t.i*83) % 950
                     + 10 + (cast(doc_id as bigint) + t.i) % 30 as double) as x2,
                cast((cast(doc_id as bigint)*23 + t.i*89) % 950
                     + 6 + (cast(doc_id as bigint)*5 + t.i) % 20 as double) as y2
              from documents cross join range(0, 6) t(i)
            )
            select doc_id, 'inferred' as source, kind, box_id, x1, y1 from hosts
            union all
            select o.doc_id, 'ocr' as source, 'UncategorizedText' as kind,
                   o.box_id, o.x1, o.y1
            from ocr o
            where not exists (
              select 1 from hosts h
              where h.doc_id = o.doc_id
                and greatest(least(o.x2,h.x2)-greatest(o.x1,h.x1)+1, 0)
                  * greatest(least(o.y2,h.y2)-greatest(o.y1,h.y1)+1, 0)
                  > 0.5 * greatest(0.01, (o.x2-o.x1+1)*(o.y2-o.y1+1))
                and (o.x2-o.x1+1)*(o.y2-o.y1+1) <= (h.x2-h.x1+1)*(h.y2-h.y1+1)
            )
        """,
        # q_layout_merge (upgraded from rows-only in r8): the fixture
        # is one rule-exercising constellation rigidly translated per
        # doc (see _LAYOUT_CONSTELLATION), so the merged page is a
        # single hand-derived 8-box pattern with per-doc offsets — the
        # oracle states it from first principles and the engine must
        # reproduce it through rules 0-5, the rule-3 expansion, the
        # top-left re-sort, and the renumber.
        "q_layout_merge": """
            with d as (
              select cast(doc_id as varchar) as doc_id,
                     cast((doc_id * 3) % 97 as double) as dx,
                     cast((doc_id * 7) % 89 as double) as dy
              from documents
            )
            select d.doc_id,
                   cast(u.b.box_id as bigint) as box_id,
                   u.b.source as source, u.b.kind as kind,
                   u.b.x1 + dx as x1, u.b.y1 + dy as y1,
                   u.b.x2 + dx as x2, u.b.y2 + dy as y2,
                   case when u.b.tpre is null then null
                        else u.b.tpre || d.doc_id end as text
            from d, unnest([
              {box_id: 0, source: 'pdfminer', kind: 'Text',
               x1: 850.0, y1: 50.0, x2: 880.0, y2: 70.0, tpre: 'e6_'},
              {box_id: 1, source: 'inferred', kind: 'NarrativeText',
               x1: 98.0, y1: 98.0, x2: 202.0, y2: 142.0, tpre: 'e2_'},
              {box_id: 2, source: 'pdfminer', kind: 'Text',
               x1: 700.0, y1: 100.0, x2: 730.0, y2: 120.0, tpre: 'e4_'},
              {box_id: 3, source: 'inferred', kind: 'NarrativeText',
               x1: 300.0, y1: 300.0, x2: 510.0, y2: 400.0,
               tpre: cast(null as varchar)},
              {box_id: 4, source: 'inferred', kind: 'Title',
               x1: 50.0, y1: 600.0, x2: 150.0, y2: 700.0,
               tpre: cast(null as varchar)},
              {box_id: 5, source: 'pdfminer', kind: 'Image',
               x1: 600.0, y1: 600.0, x2: 680.0, y2: 660.0,
               tpre: cast(null as varchar)},
              {box_id: 6, source: 'inferred', kind: 'Table',
               x1: 800.0, y1: 800.0, x2: 900.0, y2: 900.0,
               tpre: cast(null as varchar)},
              {box_id: 7, source: 'pdfminer', kind: 'Text',
               x1: 820.0, y1: 820.0, x2: 840.0, y2: 835.0, tpre: 'e5_'}
            ]) as u(b)
        """,
        #
        # q_table_eval (upgraded from rows-only in r8): the fixture's
        # synthetic-distinct cell contents make every difflib score
        # closed-form, derived by hand from the metric definitions —
        # unshifted docs are all-1.0; a doc with every row index
        # shifted by one keeps perfect table/col scores but fails all
        # row checks: row_idx 0.0, row_cont 0.0 (disjoint row lanes),
        # so composite = (1 + 0 + (1+0)/2)/3 = 0.5. The oracle states
        # those values from first principles; the engine must reproduce
        # them through cogroup + bucketing + difflib + rounding.
        "q_table_eval": """
            select cast(doc_id as varchar) as doc_id,
                   cast(1.0 as double) as table_level_acc,
                   cast(1.0 as double) as table_detection_f1,
                   cast(case when doc_id % 5 = 0 then 0.0 else 1.0 end
                        as double) as element_row_level_index_acc,
                   cast(1.0 as double) as element_col_level_index_acc,
                   cast(case when doc_id % 5 = 0 then 0.5 else 1.0 end
                        as double) as composite_structure_acc
            from documents
        """,
        "q_partition_elements": _partition_elements_sql(),
        # chunk-by-title replay (round 5): the synthetic corpus is
        # single-paragraph (one element per doc, no combine step), so
        # the fold reduces to the reference-exact _split_once loop —
        # rightmost space with match start in [1, maxlen], fragment
        # rstripped / remainder lstripped, hard cut at maxlen when no
        # space (overlap=0) — expressed as a RECURSIVE CTE. The Spark
        # side runs the full grouped chunker; any drift in either
        # implementation breaks the hash.
        "q_chunk_by_title": """
with recursive base as (
  select cast(doc_id as varchar) as doc_id, trim(text) as t
  from documents where trim(text) != ''
), s as (
  select doc_id, t as rem, cast(-1 as bigint) as idx,
         cast(null as varchar) as frag
  from base
  union all
  select doc_id,
    case when len(rem) > 500 then
      ltrim(substr(rem,
        (case when regexp_extract(substr(rem, 1, 501), '^(.*) ', 1) != ''
              then len(regexp_extract(substr(rem, 1, 501), '^(.*) ', 1)) + 1
              else 500 end) + 1))
    else '' end as rem,
    idx + 1 as idx,
    case when len(rem) > 500 then
      rtrim(case when regexp_extract(substr(rem, 1, 501), '^(.*) ', 1) != ''
                 then regexp_extract(substr(rem, 1, 501), '^(.*) ', 1)
                 else substr(rem, 1, 500) end)
    else rem end as frag
  from s where rem != ''
)
select doc_id, idx as element_index, 'CompositeElement' as type, frag as text
from s where idx >= 0
        """,
    }
