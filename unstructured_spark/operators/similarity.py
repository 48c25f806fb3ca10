"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface (the reference only *produces* embeddings,
``unstructured/embed/interfaces.py:10-39``; search is the natural
companion operator at pipeline scale).

Two paths:
- brute-force cosine top-k — correctness baseline. The query side is
  broadcast (queries are small by construction); the corpus scan is
  embarrassingly parallel; per-partition top-k then global top-k via
  ``Window.orderBy`` bounded by k. No O(n²) shuffle.
- LSH-bucketed — sign-random-projection buckets (deterministic md5
  hyperplanes); only vectors sharing a bucket are compared: the scale
  path when the corpus no longer fits a broadcast-side crossjoin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unstructured_spark.operators.skew import spread


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding self-matches by id).

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    # norms computed once per row BEFORE the pair join — the join stage
    # then does only the dot product (the O(n·q) hot loop)
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(qvec).alias("_qvec"),
        l2_norm(F.col(qvec)).alias("_qn"),
    )
    c = spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            l2_norm(F.col(vec_col)).alias("_cn"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 — same
    values are reproducible in any engine (used by tests/oracles)."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"plane{plane}:{i}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def srp_bucket(vec: Column, dim: int, planes: int = 8) -> Column:
    """Sign-random-projection bucket id: ``planes`` bits, bit p set when
    dot(vec, hyperplane_p) > 0."""
    out = F.lit(0)
    for p in range(planes):
        hp = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        out = out + F.when(dot(vec, hp) > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return out


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: compare only within matching SRP buckets. Trades
    recall for a join keyed on bucket id instead of a full crossjoin —
    the 100 TB path (bucket count 2^planes scales the candidate set
    down exponentially)."""
    # norms once per row; the bucket-join hot loop does only the dot
    # (same precompute pattern as cosine_topk/ivf_topk)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        srp_bucket(F.col(vec_col), dim, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        srp_bucket(F.col(vec_col), dim, planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    df: DataFrame,
    *,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP blocking: pairs in the
    same bucket with cosine ≥ threshold. Returns (id_a, id_b, cosine_sim)."""
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        srp_bucket(F.col(vec_col), dim, planes).alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                dot(F.col("l.vec"), F.col("r.vec")) / (F.col("l.nrm") * F.col("r.nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _centroid_frame(spark, seeds: list[tuple[int, list[float]]]) -> DataFrame:
    """ONE-row DataFrame carrying array<struct<list_id,vec,nrm>> with
    every coarse centroid, for a broadcast cross-join.

    Norms are precomputed in Python with the same left-to-right fold
    both engines use (sum of squares then sqrt), so downstream cosine
    values are bit-identical to computing the norm in SQL.

    Shipping centroids as broadcast DATA instead of literal
    expressions keeps whole-stage codegen small and constant-size: the
    literal form inlines nlist×dim doubles into the generated class
    (1k+ constants for 16×64), whose janino compile time dominates the
    query and degrades as the JVM code cache fills across a long
    session. A 1-row BroadcastNestedLoopJoin costs nothing at any
    scale.
    """
    import math

    from pyspark.sql import types as T

    entries = []
    for lid, cvec in seeds:
        acc = 0.0
        for v in cvec:
            acc += v * v
        entries.append((int(lid), [float(v) for v in cvec], math.sqrt(acc)))
    schema = T.StructType(
        [
            T.StructField(
                "_cents",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("list_id", T.LongType()),
                            T.StructField("vec", T.ArrayType(T.DoubleType())),
                            T.StructField("nrm", T.DoubleType()),
                        ]
                    )
                ),
            )
        ]
    )
    return spark.createDataFrame([(entries,)], schema)


def _centroid_sims(vec: Column, vnorm: Column, cents: Column) -> Column:
    """array<struct<sim,list_id>>: cosine of ``vec`` against every
    centroid — ONE transform lambda over the centroid literal array
    (compact codegen), not one unrolled fold per centroid."""
    return F.transform(
        cents,
        lambda c: F.struct(
            (dot(vec, c.getField("vec")) / (vnorm * c.getField("nrm"))).alias(
                "sim"
            ),
            c.getField("list_id").alias("list_id"),
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: coarse-quantize the corpus into
    ``nlist`` lists, probe the ``nprobe`` lists nearest each query, and
    brute-force only within probed lists.

    The coarse quantizer uses deterministic seed centroids (the
    ``nlist`` lowest-id vectors) so any engine reproduces the index
    bit-for-bit; swapping in k-means centroids changes only the
    ``seeds`` input, not the plan. Scale shape: centroids broadcast
    (tiny literal array), corpus assignment is map-only whole-stage
    codegen (argmax over one transform lambda — no shuffle), and the
    candidate join is keyed on list_id — candidate volume is
    ~nprobe/nlist of the corpus vs the full crossjoin of the
    brute-force baseline.

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    seed_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(nlist).collect()
    )
    # list ids derive from numeric seed ids (the oracle replays that
    # assignment); opaque string ids fall back to the seed's ordinal
    seeds = []
    for i, r in enumerate(seed_rows):
        try:
            lid = int(r[0])
        except (TypeError, ValueError):
            lid = i
        seeds.append((lid, [float(x) for x in r[1]]))
    cent_df = _centroid_frame(corpus.sparkSession, seeds)
    cents = F.col("_cents")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).crossJoin(F.broadcast(cent_df))
    # struct ordering compares sim first, then list_id — ties go to the
    # larger list_id, mirrored by the oracle's ORDER BY ... list_id DESC
    c = c.select(
        "neighbor_id",
        "_cvec",
        "_cn",
        F.array_max(
            _centroid_sims(F.col("_cvec"), F.col("_cn"), cents)
        ).getField("list_id").alias("list_id"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).crossJoin(F.broadcast(cent_df))
    probes = (
        q.select(
            "query_id",
            "_qvec",
            "_qn",
            F.slice(
                F.sort_array(
                    _centroid_sims(F.col("_qvec"), F.col("_qn"), cents),
                    asc=False,
                ),
                1,
                nprobe,
            ).alias("_probed"),
        )
        .withColumn("list_id", F.explode(F.col("_probed.list_id")))
        .drop("_probed")
    )

    scored = (
        c.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_int8(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: q_j =
    round(x_j / scale) with scale = max|x_j| / 127 — the standard 4×
    memory reduction for billion-vector ANN candidate storage (the
    index keeps int8 codes + one float scale; exact re-ranking refetches
    full vectors for the final top-k only).

    Deterministic and engine-portable: the rounding is
    floor(x/scale + 0.5) over doubles, and scale = amax/127 uses one
    division — a DuckDB oracle reproduces codes bit-for-bit. Map-only.

    Returns (vec_id, codes array<int>, scale double). Zero vectors get
    scale 0 and all-zero codes.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    codes = F.when(
        amax > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col).alias("vec_id"), codes.alias("codes"), scale.alias("scale")
    )


def dequantize_cosine_topk(
    quantized: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine over int8 codes (codes·scale approximates the
    original vector) — the cheap first-pass ranking over a quantized
    index. Returns (vec_id, approx_cosine, rank)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = sum(x * x for x in query_vec) ** 0.5
    approx = F.transform(F.col("codes"), lambda c: c.cast("double") * F.col("scale"))
    sim = dot(approx, q) / (l2_norm(approx) * F.lit(qn))
    scored = quantized.select(
        "vec_id", F.round(sim, 6).alias("approx_cosine")
    ).filter(F.col("approx_cosine").isNotNull())
    # TakeOrderedAndProject top-k, then rank over k rows (see pq_topk)
    order = [F.desc("approx_cosine"), F.asc("vec_id")]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


def random_projection(
    df: DataFrame,
    out_dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with the same
    md5-deterministic plane family as ``srp_bucket``: y_p = x·h_p for
    ``out_dim`` planes (no 1/√k scaling — downstream cosine is
    scale-invariant). Map-only, engine-replayable; the cheap way to
    take 1024-dim embeddings to 64 dims before IVF/k-means at corpus
    scale.

    Returns (vec_id, reduced array<double>).
    """
    if in_dim is None:
        first = df.select(F.size(vec_col)).first()
        in_dim = int(first[0]) if first else 0
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comps = [
        F.round(dot(v, F.array(*[F.lit(val) for val in _hyperplane(in_dim, p)])), 9)
        for p in range(out_dim)
    ]
    return df.select(
        F.col(id_col).alias("vec_id"), F.array(*comps).alias("reduced")
    )


def _pq_seeds(
    corpus: DataFrame, m: int, ksub: int, id_col: str, vec_col: str, _seeds=None
):
    """Deterministic PQ codebook: the ksub lowest-id vectors, integer-
    quantized (floor(x·10⁶+0.5)) and sliced into m subvectors. Returns
    [subspace][ordinal] -> list[int] plus the subspace dim. Pass a
    prior result via ``_seeds`` to skip the driver collect."""
    if _seeds is not None:
        return _seeds
    from unstructured_spark.operators.clustering import quantize_vec

    rows = (
        corpus.select(F.col(id_col).alias("_id"), quantize_vec(F.col(vec_col)).alias("_q"))
        .orderBy("_id")
        .limit(ksub)
        .collect()
    )
    dim = len(rows[0]["_q"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    cents = [
        [[int(x) for x in r["_q"][s * d : (s + 1) * d]] for r in rows]
        for s in range(m)
    ]
    return cents, d


def pq_codes(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _seeds=None,
) -> DataFrame:
    """Product-quantization codes: each vector stored as m small
    centroid ordinals (m·log2(ksub) bits — the billion-vector ANN
    memory format; IVF-PQ = ivf_topk lists + these codes).

    Engine-exact determinism, same scheme as ``clustering``: vectors
    and codebooks are integer-quantized, subspace distances are exact
    integer sums in fixed order, ties break to the smaller ordinal —
    so a DuckDB oracle reproduces every code. Map-only (codebook is a
    driver literal: ksub·dim ints).
    """
    from unstructured_spark.operators.clustering import quantize_vec

    cents, d = _pq_seeds(corpus, m, ksub, id_col, vec_col, _seeds=_seeds)
    # checkpoint the quantized vectors: the assignment below references
    # `q` m·ksub times, and the quantize transform is a higher-order
    # function — interpreted (not codegen), so there is no common-
    # subexpression elimination and every reference would re-run the
    # 64-element floor transform (measured 5.5s → ~1s at sf0.1)
    q = corpus.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("q")
    ).localCheckpoint(eager=False)
    # stage the m subvector slices as their own columns first: each
    # fold below then references a small d-element column instead of
    # re-slicing (and re-evaluating) the full vector per centroid
    q = q.select(
        "vec_id",
        *[F.slice(F.col("q"), s * d + 1, d).alias(f"s{s}") for s in range(m)],
    )
    # build each code column as ONE textual F.expr: constructing the
    # m·ksub fold lambdas through the Column API costs thousands of
    # py4j round trips (~5s of pure driver time for 8×16); a SQL
    # string parses JVM-side in a single call
    code_cols = []
    for s in range(m):
        structs = ", ".join(
            "named_struct('dist', aggregate(zip_with(s{s}, array({cent}), "
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), "
            "'o', {o})".format(
                s=s, o=o, cent=", ".join(str(int(c)) for c in cents[s][o])
            )
            for o in range(ksub)
        )
        code_cols.append(
            F.expr(f"array_sort(array({structs}))[0].o").alias(f"c{s}")
        )
    coded = q.select("vec_id", *code_cols)
    return coded.select(
        "vec_id", F.array(*[f"c{s}" for s in range(m)]).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    m: int = 8,
    ksub: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id=None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    m distance tables of ksub exact-integer entries (driver-side), and
    each corpus vector scores as the sum of m table lookups — map-only
    scan over codes, then one top-k. Returns (vec_id, pq_dist, rank)."""
    import math

    cents, d = _pq_seeds(corpus, m, ksub, id_col, vec_col)
    # match quantize_vec exactly: floor(x*1e6 + 0.5)
    qint = [int(math.floor(float(x) * 1_000_000 + 0.5)) for x in query_vec]
    tables = []
    for s in range(m):
        qs = qint[s * d : (s + 1) * d]
        tables.append(
            [sum((a - b) * (a - b) for a, b in zip(qs, cent)) for cent in cents[s]]
        )
    codes = pq_codes(
        corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, _seeds=(cents, d)
    )
    if exclude_id is not None:
        codes = codes.filter(F.col("vec_id") != F.lit(exclude_id))
    score = F.lit(0).cast("bigint")
    for s in range(m):
        table = F.array(*[F.lit(v).cast("bigint") for v in tables[s]])
        score = score + F.element_at(table, F.element_at(F.col("codes"), s + 1) + 1)
    scored = codes.select("vec_id", score.alias("pq_dist"))
    # top-k BEFORE ranking: orderBy().limit(k) plans as
    # TakeOrderedAndProject (per-partition partial top-k); the rank
    # window then runs over k rows, not a corpus-wide single-partition
    # sort (same fix as weighted_sample, commit 34823b4)
    order = [F.asc("pq_dist"), F.asc("vec_id")]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id=None,
) -> DataFrame:
    """IVF-PQ: the billion-vector ANN layout — a coarse inverted-file
    quantizer prunes the corpus to ``nprobe``/``nlist`` of its lists,
    and PQ ADC scores only the survivors (codes are m ordinals per
    vector; candidate scoring is m table lookups).

    Everything is integer-exact (same quantization scheme as
    ``clustering``/``pq_codes``): coarse centroids are the ``nlist``
    lowest-id quantized vectors, PQ codebooks the ``ksub`` lowest-id
    subvectors, distances exact integer sums with smaller-ordinal tie
    breaks — so a DuckDB oracle replays coarse assignment, probes,
    codes, and ADC scores verbatim.

    Plan shape: ONE pass over the checkpointed quantized corpus
    computes coarse list + PQ code per vector; the probe filter is a
    literal IN-list (map-only pruning — at rest, partition the code
    table by list_id and this prune becomes partition pruning); the
    only shuffle is the final top-k.
    """
    import math

    from unstructured_spark.operators.clustering import quantize_vec

    n_seed = max(nlist, ksub)
    rows = (
        corpus.select(
            F.col(id_col).alias("_id"), quantize_vec(F.col(vec_col)).alias("_q")
        )
        .orderBy("_id")
        .limit(n_seed)
        .collect()
    )
    dim = len(rows[0]["_q"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    coarse = [[int(x) for x in r["_q"]] for r in rows[:nlist]]
    cents = [
        [[int(x) for x in r["_q"][s * d : (s + 1) * d]] for r in rows[:ksub]]
        for s in range(m)
    ]
    qint = [int(math.floor(float(x) * 1_000_000 + 0.5)) for x in query_vec]

    # driver-side probes: nprobe nearest coarse lists to the query
    def idist(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe_ids = [
        o for o, _ in sorted(
            ((o, idist(qint, c)) for o, c in enumerate(coarse)),
            key=lambda t: (t[1], t[0]),
        )[:nprobe]
    ]
    tables = [
        [idist(qint[s * d : (s + 1) * d], cent) for cent in cents[s]]
        for s in range(m)
    ]

    q = corpus.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("q")
    ).localCheckpoint(eager=False)
    q = q.select(
        "vec_id",
        "q",
        *[F.slice(F.col("q"), s * d + 1, d).alias(f"s{s}") for s in range(m)],
    )

    def _argmin_expr(entries: list[str]) -> str:
        return f"array_sort(array({', '.join(entries)}))[0].o"

    coarse_structs = [
        "named_struct('dist', aggregate(zip_with(q, array({c}), "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), 'o', {o})".format(
            c=", ".join(str(v) for v in cv), o=o
        )
        for o, cv in enumerate(coarse)
    ]
    code_cols = []
    for s in range(m):
        structs = [
            "named_struct('dist', aggregate(zip_with(s{s}, array({c}), "
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), 'o', {o})".format(
                s=s, c=", ".join(str(v) for v in cents[s][o]), o=o
            )
            for o in range(ksub)
        ]
        code_cols.append(F.expr(_argmin_expr(structs)).alias(f"c{s}"))
    assigned = q.select(
        "vec_id",
        F.expr(_argmin_expr(coarse_structs)).alias("list_id"),
        *code_cols,
    )
    pruned = assigned.filter(F.col("list_id").isin([int(p) for p in probe_ids]))
    if exclude_id is not None:
        pruned = pruned.filter(F.col("vec_id") != F.lit(exclude_id))
    score = F.lit(0).cast("bigint")
    for s in range(m):
        table = F.array(*[F.lit(int(v)).cast("bigint") for v in tables[s]])
        score = score + F.element_at(table, F.col(f"c{s}") + 1)
    scored = pruned.select("vec_id", "list_id", score.alias("pq_dist"))
    # TakeOrderedAndProject top-k, then rank over k rows (see pq_topk)
    order = [F.asc("pq_dist"), F.asc("vec_id")]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order).limit(k)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    *,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate neighbor list against the exact one —
    the standard ANN index-quality gate (run it before trusting an
    IVF/PQ configuration at corpus scale; reference embeds but never
    evaluates, this is the QA step a 100 TB index build needs).

    ``exact`` and ``approx`` are top-k result frames shaped like
    :func:`cosine_topk` output (query, neighbor, ...). Emits one row
    per exact-side query: ``hits`` (matched neighbors, BIGINT) and
    ``recall_ppm`` = 1e6 * hits div k — integer parts per million, no
    float division to diverge cross-engine. Queries the approx side
    missed entirely score 0, so a too-aggressive prune is visible.

    Shape: ONE left join on (query, neighbor) + one groupBy(query)
    counting the matches (count of the non-null marker = hits; a query
    the approx side missed keeps its k exact rows and counts 0). Each
    search subtree is referenced exactly ONCE — the r12-before form
    referenced the exact search twice (hits join + distinct spine):
    AQE stage reuse deduplicated the search's exchanges at runtime
    (final plan: 2 ReusedExchange), but the distinct spine, its two
    extra sorts, and the second join still executed, and the
    leaf-to-first-exchange map work is only shared BECAUSE the two
    references stay byte-identical — a fragile invariant this form
    does not need. The join is deliberately NOT hint-broadcast:
    both sides are q*k rows, so AQE converts the materialized shuffle
    stages to a broadcast join at runtime for free, whereas a planner
    broadcast hint would execute the whole approx search inside the
    BroadcastExchange's broadcastTimeout deadline (the hazard class
    fixed in the kmeans centroid builds).
    """
    e = exact.select(query_col, neighbor_col)
    a = approx.select(query_col, neighbor_col).withColumn("_m", F.lit(1))
    return (
        e.join(a, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(F.count("_m").cast("bigint").alias("hits"))
        .select(
            query_col,
            "hits",
            F.expr(f"(1000000L * hits) div {int(k)}L").alias("recall_ppm"),
        )
    )
