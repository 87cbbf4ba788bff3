"""Similarity search over `embeddings` (SURVEY.md §2.9 L4/L5/L11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nipd_spark.catalog import load
from nipd_spark.operators import knn, lsh, vector
from nipd_spark.oracle import dround
from nipd_spark.registry import query
from nipd_spark.streaming.harness import scratch_dir

_DUCK_COS = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    " / (a.nrm * b.nrm)"
)

_DUCK_NORMED = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({vector.duck_sq_norm('embedding')}) AS nrm
  FROM embeddings
)
"""


@query(
    "l4_knn_bruteforce",
    sql=_DUCK_NORMED
    + f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_DUCK_COS} AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC, a_id ASC, b_id ASC
    LIMIT 10
    """,
    tags=("L4",),
)
def l4_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 cosine pairs (BASELINE.md row) via the GEMM hybrid
    (operators/knn.py): BLAS selects candidates per partition, winners
    are re-scored with the sequential expression so emitted cosines stay
    bit-identical to the DuckDB oracle's arithmetic.

    Scale note: block outer-product + per-partition top-k; the exact
    O(n²) relation is unchanged — L5 is the sub-quadratic path.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return knn.top_pairs_gemm(e, k=10)


@query(
    "l4b_knn_per_query",
    sql=_DUCK_NORMED
    + f"""
    SELECT * FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, {_DUCK_COS} AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_DUCK_COS} DESC, b.vec_id ASC) AS rn
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ) WHERE rn <= 5
    """,
    tags=("L4", "O4"),
)
def l4b_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors for a 20-vector query set (kNN ground truth
    used by the L5 recall test) — GEMM candidates + bit-exact re-score,
    query matrix broadcast."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return knn.topk_per_query_gemm(e, e.filter(F.col("vec_id") < 20), k=5)


@query("l5_ann_lsh", sql=None, tags=("L5",))
def l5_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via hyperplane LSH + multiprobe +
    exact re-rank (rows-only; deterministic fixed-seed planes).

    tests assert re-rank exactness against l4b ground truth restricted
    to the candidate set, and report recall (intrinsically modest here:
    the corpus embeddings are isotropic Gaussian, no cluster structure).
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return lsh.ann_topk(e, e.filter(F.col("vec_id") < 20), k=5)


@query(
    "l11_centroids",
    sql=f"""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT label, pos,
           {dround("avg(val)", 6)} AS centroid_val,
           count(*) AS n_vecs
    FROM flat
    GROUP BY label, pos
    """,
    tags=("L11",),
)
def l11_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long (label, pos, value) format — grouped
    element-wise mean via posexplode (avg-pool per label).

    Long format keeps the oracle hashable; re-packing to arrays is a
    deterministic sort_array(collect_list(struct(pos,val))) away.
    Scale note: shuffle key (label, pos) has 640 values — perfectly
    uniform; n_vecs per key = table_rows/10.
    """
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", F.col("v").cast("double").alias("val"))
    return flat.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("centroid_val"),
        F.count("*").alias("n_vecs"),
    )


@query("l5b_ann_ivf", sql=None, tags=("L5",))
def l5b_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via an IVF-Flat index (operators/
    ivf.py): deterministic k-means coarse quantizer (8 lists, 2 Lloyd
    rounds), nprobe=2, exact cosine re-rank inside probed lists.

    Rows-only for the driver (probe set is approximate); property tests
    pin (a) nprobe=C == exact brute-force kNN, (b) bit-exact re-rank
    scores vs l4b ground truth on shared candidates, (c) recall report.
    """
    from nipd_spark.operators import ivf

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = ivf.train_centroids(e, n_lists=8, iters=2)
    cen = cen.cache()
    assigned = ivf.assign(e, cen)
    return ivf.search(
        e, e.filter(F.col("vec_id") < 20), cen, assigned, k=5, nprobe=2
    )


def _kmeans_sql(n_lists: int = 8, iters: int = 2) -> str:
    """DuckDB twin of ivf.train_centroids + ivf.assign: hash-arg-min seeding,
    ``iters`` Lloyd rounds, final nearest-centroid assignment. Mirrors
    the Spark arithmetic expression-for-expression (sequential double
    dot/norm — bit-identical across engines, operators/vector.py) so the
    integer assignment hash-matches."""
    dot = vector.duck_dot("e.emb", "c.centroid")
    sqn = "list_sum(list_transform(e.emb, x -> x * x))"

    def assign_from(cen: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {dot} / sqrt({sqn}) DESC, c.list_id ASC) AS rn
        FROM e CROSS JOIN {cen} c
      ) WHERE rn = 1
    )"""

    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(vec_id % {n_lists} AS INT) AS list_id,
             arg_min(emb, ((vec_id * 2971 + 7) % 100003) * 1000000000000 + vec_id)
               AS emb
      FROM e GROUP BY 1
    ),
    cen0 AS (
      SELECT list_id, list_transform(emb, x -> x / nrm) AS centroid
      FROM (SELECT list_id, emb,
                   sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
            FROM seeds)
    )"""
    ]
    for i in range(iters):
        parts.append("," + assign_from(f"cen{i}", f"assign{i}"))
        parts.append(f""",
    mean{i} AS (
      SELECT list_id, pos, avg(val) AS m FROM (
        SELECT a.list_id, generate_subscripts(e.emb, 1) AS pos,
               unnest(e.emb) AS val
        FROM assign{i} a JOIN e USING (vec_id)
      ) GROUP BY list_id, pos
    ),
    cen{i + 1} AS (
      SELECT list_id, list_transform(centroid, x -> x / nrm) AS centroid
      FROM (
        SELECT list_id, centroid,
               sqrt(list_sum(list_transform(centroid, x -> x * x))) AS nrm
        FROM (SELECT list_id, list(m ORDER BY pos) AS centroid
              FROM mean{i} GROUP BY list_id)
      )
    )""")
    parts.append("," + assign_from(f"cen{iters}", "final_assign"))
    parts.append("\n    SELECT vec_id, list_id FROM final_assign")
    return "".join(parts)


@query("l18_kmeans", sql=_kmeans_sql(), tags=("L11", "L5"))
def l18_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means clustering of the embeddings table: the
    IVF coarse quantizer (operators/ivf.py — hash-arg-min seeds, 2 Lloyd
    rounds, no RNG) exposed as a first-class clustering query returning
    the final (vec_id, list_id) assignment.

    The oracle twin replays the identical iteration in DuckDB SQL; the
    output is pure integers, so the hash check verifies every float
    decision (3 argmax assignment rounds, 2 centroid re-estimations)
    without hashing floats — an assignment flips only if an engine pair
    disagrees at the ulp level on a near-exact centroid tie.

    Scale note: each round is crossJoin(broadcast(8 centroids)) →
    per-row argmax (map-side) + one (list_id, pos) shuffle of 512 keys —
    linear in rows; iterative lineage cut by the small centroid DF, not
    the data (the big table is never checkpointed)."""
    from nipd_spark.operators import ivf

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = ivf.train_centroids(e, n_lists=8, iters=2)
    return ivf.assign(e, cen).select("vec_id", "list_id")


@query(
    "l28_quantize_embeddings",
    sql=f"""
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, xs,
             list_max(list_transform(xs, v -> abs(v))) AS scale
      FROM x
    ),
    dq AS (
      SELECT vec_id, xs, scale,
             list_transform(xs,
               v -> floor(v * 127 / scale + 0.5) * scale / 127) AS ys,
             len(list_filter(xs,
               v -> abs(floor(v * 127 / scale + 0.5)) >= 127)) AS n_sat
      FROM s WHERE scale > 0
    )
    SELECT vec_id,
           {dround("scale", 6)} AS scale,
           {dround("list_sum(list_transform(range(1, 65), i -> (xs[i] - ys[i]) * (xs[i] - ys[i]))) / 64", 9)} AS mse,
           CAST(n_sat AS INT) AS n_sat
    FROM dq
    """,
    tags=("L11", "F5"),
)
def l28_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    compression every 100 TB vector store applies before ANN serving —
    with per-vector reconstruction error (MSE) and saturation count.
    Rounding is ``floor(v + 0.5)`` in BOTH engines (no HALF_UP vs
    HALF_EVEN ambiguity); with scale = max|x| the quantized range never
    exceeds ±127, so no clipping branch exists to diverge.

    Scale shape: map-only higher-order array math — zero shuffles, the
    quantized table writes back partition-parallel. MSE is rounded (9dp)
    per the order-dependent-aggregate oracle discipline.
    """
    e = load(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    staged = e.select(
        "vec_id",
        xs.alias("xs"),
        F.array_max(F.transform(xs, F.abs)).alias("scale"),
    ).filter(F.col("scale") > 0)
    q = lambda v: F.floor(v * 127 / F.col("scale") + 0.5)  # noqa: E731
    dq = staged.select(
        "vec_id",
        "xs",
        "scale",
        F.transform(F.col("xs"), lambda v: q(v) * F.col("scale") / 127).alias("ys"),
        F.size(F.filter(F.col("xs"), lambda v: F.abs(q(v)) >= 127)).alias("n_sat"),
    )
    sq_err = F.zip_with(F.col("xs"), F.col("ys"), lambda a, b: (a - b) * (a - b))
    return dq.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.round(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, v: acc + v) / 64, 9
        ).alias("mse"),
        F.col("n_sat").cast("int").alias("n_sat"),
    )


@query("l35_ann_pq", sql=None, tags=("L5", "L11"))
def l35_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via product quantization
    (operators/pq.py; Jégou 2011): 8 subspaces × 16 codes trained with
    2 deterministic Lloyd rounds, base vectors encoded to 8 code ids
    (32× compression of float32×64), ADC lookup-table candidate
    generation over the CODE table only, exact cosine re-rank of the
    top-50 candidates. Queries: vec_id < 20, matching l5/l5b so the
    three ANN tiers (LSH / IVF / PQ) are directly comparable.

    Rows-only for the driver (the candidate set is approximate);
    property tests pin code-table completeness, self-retrieval after
    re-rank, and recall@5 vs the l4b exact ground truth.
    """
    from nipd_spark.operators import pq

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq.train_codebooks(e, m=8, ksub=16, iters=2).cache()
    codes = pq.assign_codes(pq.subvectors(e, 8), cb)
    return pq.search_adc(
        e, codes, e.filter(F.col("vec_id") < 20), cb, k=5, cand=50
    )


@query("l37_ann_ivfpq", sql=None, tags=("L5", "L11"))
def l37_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition (the FAISS IVFPQ layout, Jégou 2011 §V): the
    coarse quantizer (operators/ivf.py, 8 lists) prunes the search to
    nprobe=3 inverted lists, and WITHIN the surviving candidates the
    ADC code-table distance (operators/pq.py) ranks cheaply before the
    exact cosine re-rank of the top-50. At 100 TB the two stages cut
    different costs: IVF cuts the fraction of the corpus touched
    (~nprobe/C), PQ cuts bytes-per-candidate 32× — together the scored
    working set is ~1% of the raw float store.

    Pipeline is pure DataFrame algebra: list assignment join ∩ probe
    explode → semi-join restriction of the CODE table → ADC grouped
    sum → window top-50 → exact re-rank. Rows-only (approximate
    candidate set); the property test pins result-set completeness and
    bit-exact re-rank scores vs. brute force on shared pairs.
    """
    from pyspark.sql import Window
    from nipd_spark.operators import ivf, pq, vector

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 20)

    cen = ivf.train_centroids(e, n_lists=8, iters=2).cache()
    assigned = ivf.assign(e, cen)  # (vec_id, list_id)
    cb = pq.train_codebooks(e, m=8, ksub=16, iters=2).cache()
    codes = pq.assign_codes(pq.subvectors(e, 8), cb)

    # queries → top-3 probe lists each (broadcast centroids, argmax-k)
    probe_w = Window.partitionBy("q_id").orderBy(
        F.col("ccos").desc(), F.col("list_id").asc()
    )
    probes = (
        q.select(F.col("vec_id").alias("q_id"), "embedding")
        .crossJoin(F.broadcast(cen))
        .select(
            "q_id",
            "list_id",
            (
                vector.dot(F.col("embedding"), F.col("centroid"))
                / vector.l2_norm(F.col("embedding"))
            ).alias("ccos"),
        )
        .withColumn("prn", F.row_number().over(probe_w))
        .filter(F.col("prn") <= 3)
        .select("q_id", "list_id")
    )
    # restrict the code table to vectors living in each query's probed
    # lists: equi-join chain, no cross product
    in_scope = probes.join(assigned, "list_id").select("q_id", "vec_id")
    scoped_codes = in_scope.join(codes, "vec_id").select(
        "q_id", "vec_id", "sub_id", "code"
    )
    # ADC over the scoped code table
    lut = (
        pq.subvectors(
            q.select(F.col("vec_id").alias("q_id"), "embedding"),
            8,
            id_col="q_id",
        )
        .join(F.broadcast(cb), "sub_id")
        .select(
            "q_id",
            "sub_id",
            "code",
            F.aggregate(
                F.zip_with(
                    F.col("sub"), F.col("centroid"), lambda x, c: (x - c) * (x - c)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("pdist"),
        )
    )
    approx = (
        scoped_codes.join(F.broadcast(lut), ["q_id", "sub_id", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("pdist").alias("adist"))
    )
    cw = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    cands = (
        approx.withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= 50)
        .select("q_id", "vec_id")
    )
    base_n = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        vector.l2_norm(F.col("embedding")).alias("b_norm"),
    )
    q_n = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        vector.l2_norm(F.col("embedding")).alias("q_norm"),
    )
    rescored = (
        cands.join(base_n, cands.vec_id == base_n.b_id)
        .join(F.broadcast(q_n), "q_id")
        .filter(F.col("q_id") != F.col("b_id"))
        .select(
            "q_id",
            F.col("b_id").alias("neighbor_id"),
            vector.cosine(
                F.col("q_emb"), F.col("b_emb"), F.col("q_norm"), F.col("b_norm")
            ).alias("cosine"),
        )
    )
    rw = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= 5)
        .select("q_id", "neighbor_id", "cosine", "rn")
    )


@query(
    "l38_hard_negatives",
    sql=f"""
    WITH el AS (
      SELECT vec_id, label, embedding,
             sqrt({vector.duck_sq_norm('embedding')}) AS nrm
      FROM embeddings
    )
    SELECT * FROM (
      SELECT a.vec_id AS q_id, a.label AS q_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             {{cos}} AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {{cos}} DESC, b.vec_id ASC) AS rn
      FROM el a JOIN el b
        ON a.vec_id <> b.vec_id AND a.label <> b.label
      WHERE a.vec_id < 20
    ) WHERE rn <= 5
    """.format(cos=f"{vector.duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"),
    tags=("L4", "L11", "O4"),
)
def l38_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    query vector, the 5 most-similar vectors of a DIFFERENT label —
    the near-misses whose contrast teaches the model the class
    boundary (random negatives are trivially separable and carry no
    gradient). Exact cosine with the label-differs predicate fused
    into the pair join, so no same-label pair is ever scored.

    Scale path: this exact form anchors correctness; at corpus scale
    the candidate set comes from the ANN tiers (l35/l37) and the label
    filter rides the candidate join — mining cost then scales with
    candidates, not the corpus square.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", vector.l2_norm(F.col("embedding")).alias("nrm")
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") != F.col("q_label"))
        )
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            vector.cosine(
                F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "q_label", "neg_id", "neg_label", "cosine", "rn")
    )


def _jl_signs(k: int = 16, d: int = 64) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign = parity of the first
    md5 hex nibble of "j,i" — no RNG, reproducible in any engine."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j},{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


def _jl_sql(k: int = 16, d: int = 64) -> str:
    signs = _jl_signs(k, d)
    dims = []
    for j in range(k):
        terms = " + ".join(
            f"({'' if signs[j][i] == 1 else '-'}CAST(embedding[{i + 1}] AS DOUBLE))"
            for i in range(d)
        )
        dims.append(f"({terms})")
    proj_sq = " + ".join(f"({p} * {p})" for p in dims)
    orig_sq = (
        "list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    return f"""
    SELECT vec_id,
           {orig_sq} AS orig_sq,
           ({proj_sq}) / {k} AS proj_sq
    FROM embeddings
    WHERE vec_id < 100
    """


@query("l51_jl_projection", sql=_jl_sql(), tags=("L11", "F3"))
def l51_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims with a
    deterministic ±1 (Achlioptas 2003) matrix: per-vector original and
    projected squared norms (projected scaled by 1/k, so the ratio
    concentrates near 1). The cheap dim-reduction step ahead of an ANN
    tier — 4× fewer bytes per vector into LSH/IVF — with the distance
    guarantee property-tested on pairs.

    Scale shape: the matrix is 16×64 CONSTANTS folded into the
    projection expressions — map-only, whole-stage codegen, zero
    shuffles, no Python. Both engines evaluate the same left-assoc
    sums, so doubles match bitwise (no rounding needed).
    """
    signs = _jl_signs()
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    emb = [F.col("embedding").getItem(i).cast("double") for i in range(64)]
    dims = []
    for j in range(16):
        s = signs[j]
        expr = (emb[0] if s[0] == 1 else -emb[0])
        for i in range(1, 64):
            expr = expr + (emb[i] if s[i] == 1 else -emb[i])
        dims.append(expr)
    proj_sq = dims[0] * dims[0]
    for j in range(1, 16):
        proj_sq = proj_sq + dims[j] * dims[j]
    orig_sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return e.select(
        "vec_id",
        orig_sq.alias("orig_sq"),
        (proj_sq / 16).alias("proj_sq"),
    )


@query("l52_pca_spectrum", sql=None, tags=("L11", "A10", "D6"))
def l52_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding table (operators/pca.py):
    partition-wise (n, Σx, XᵀX) sufficient statistics via mapInPandas,
    associative merge, 64×64 eigenproblem on the driver — top-5
    eigenvalues with explained-variance ratios. The embedding-analytics
    companion to JL (l51): JL is the cheap oblivious projection, PCA
    the data-adapted one (whitening, energy compaction before PQ).

    Rows-only by design: partials merge in partition order, so the
    covariance's last ulp is layout-dependent; the property test pins
    the spectrum against an exact numpy reference at 1e-8 relative.
    Scale shape: one map-only pass + a 4-KB-per-partition reduce — the
    vectors themselves never shuffle.
    """
    from nipd_spark.operators import pca

    e = load(spark, sf_dir, "embeddings")
    vals, ratio, _vecs, n = pca.pca_spectrum(e, "embedding", d=64, k=5)
    return spark.createDataFrame(
        [
            (i + 1, round(float(v), 6), round(float(r), 6), int(n))
            for i, (v, r) in enumerate(zip(vals, ratio))
        ],
        "component int, eigenvalue double, explained_ratio double, n_vectors int",
    )


@query("l56_ivf_persisted", sql=None, tags=("L5", "S6"))
def l56_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index — the offline-build / online-probe split
    that makes ANN serve at 100 TB: the index (k-means centroids +
    per-vector list assignments, both plain parquet) is trained ONCE
    and committed with an atomic rename; the query path loads only the
    index and the base vectors and probes — zero training cost per
    query, and the index directory ships/caches like any other table.
    Same parameters as l5b_ann_ivf, so the output is bit-identical
    (training is deterministic) — pinned by a property test.

    Rows-only for the driver (probe set is approximate), inheriting
    l5b's anchors: probe-all == exact kNN and bit-exact re-rank.
    """
    import os

    from nipd_spark.operators import ivf

    idx = scratch_dir(sf_dir, "ivf_index")
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if not os.path.exists(idx):
        cen = ivf.train_centroids(e, n_lists=8, iters=2).cache()
        assigned = ivf.assign(e, cen)
        tmp = idx + ".tmp"
        cen.write.mode("overwrite").parquet(tmp + "/centroids")
        assigned.write.mode("overwrite").parquet(tmp + "/assigned")
        os.rename(tmp, idx)
    cen = spark.read.parquet(idx + "/centroids")
    assigned = spark.read.parquet(idx + "/assigned")
    return ivf.search(
        e, e.filter(F.col("vec_id") < 20), cen, assigned, k=5, nprobe=2
    )


@query(
    "l68_margin_bitext",
    # Determinism: pair cosines are the sequential-double expression
    # (bit-identical cross-engine, l4 discipline) rounded to 6 dp; the
    # top-4 neighborhood membership is exact (rounded cos + id ties);
    # the 4-term avg and the mu_a+mu_b sum differ only in the last ulp,
    # absorbed by the final 6 dp margin round; ranking uses the ROUNDED
    # margin with (a_id, b_id) ties.
    sql=_DUCK_NORMED.replace(
        "FROM embeddings",
        "FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id",
    ).replace(
        "SELECT vec_id, embedding,",
        "SELECT em.vec_id AS vec_id, d.lang AS lang, em.embedding AS embedding,",
    )
    + f"""
    , p AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {dround(f"({_DUCK_COS})", 6)} AS cos
      FROM e a JOIN e b ON a.lang < b.lang
    ),
    neigh AS (
      SELECT a_id AS id, cos FROM p
      UNION ALL
      SELECT b_id AS id, cos FROM p
    ),
    topn AS (
      SELECT id, cos,
             row_number() OVER (PARTITION BY id ORDER BY cos DESC) AS rn
      FROM neigh
    ),
    mu AS (SELECT id, avg(cos) AS mu FROM topn WHERE rn <= 4 GROUP BY id),
    m AS (
      SELECT p.a_id, p.b_id, p.cos,
             {dround("p.cos / ((ma.mu + mb.mu) / 2)", 6)} AS margin
      FROM p JOIN mu ma ON p.a_id = ma.id JOIN mu mb ON p.b_id = mb.id
    )
    SELECT a_id, b_id, cos, margin
    FROM m
    ORDER BY margin DESC, a_id ASC, b_id ASC
    LIMIT 20
    """,
    tags=("L4", "L9", "J10", "O3"),
)
def l68_margin_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining [PK: Artetxe & Schwenk,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings", ACL 2019]: candidate translation pairs are CROSS-
    language document pairs ranked by the ratio margin — cosine(a,b)
    divided by the mean of each side's top-4 neighborhood cosines —
    which suppresses hub vectors that are close to everything (raw
    cosine's failure mode in multilingual spaces). Returns the global
    top-20 mined pairs. This is the standard curation step for
    parallel-corpus construction from web crawls.

    Plan shape for 100 TB: cross-language pairing is PRE-BANDED EQUI —
    each side equi-joins a broadcast 10-row (lang_a < lang_b)
    dimension, so the pair relation is two hash joins, never a
    nested-loop theta join (the J10 discipline). Neighborhood means
    are one union + per-vector top-4 window + 4-row avg; the global
    top-20 is orderBy+limit (TakeOrderedAndProject). The exact
    O(n_a·n_b) pair enumeration is the correctness anchor — the scale
    path is l68b_margin_bitext_ivf: the IVF-probed candidate set
    (operators/ivf.py, cf. l65→l65b) with margins computed on
    candidates only, unchanged downstream (_margin_topk).
    """
    e = _bitext_lang_embeddings(spark, sf_dir)
    # ordered lang-pair dimension built join-free: collect the distinct
    # langs into ONE sorted array and expand ordered pairs in-plan with
    # nested transforms (a tiny-dim self-join would plan as a Cartesian)
    lp = (
        e.select("lang")
        .distinct()
        .agg(F.sort_array(F.collect_set("lang")).alias("ls"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ls, (x, i) -> "
                    "transform(slice(ls, i + 2, size(ls)), "
                    "y -> struct(x AS lang_a, y AS lang_b))))"
                )
            ).alias("pr")
        )
        .select("pr.lang_a", "pr.lang_b")
    )
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("lang").alias("lang_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("lang").alias("lang_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    from nipd_spark.operators.materialize import spill_checkpoint

    p = (
        a.join(F.broadcast(lp), "lang_a")
        .join(b, "lang_b")
        .select(
            "a_id",
            "b_id",
            F.round(
                vector.cosine(
                    F.col("emb_a"),
                    F.col("emb_b"),
                    F.col("nrm_a"),
                    F.col("nrm_b"),
                ),
                6,
            ).alias("cos"),
        )
        # p feeds BOTH neigh union branches and the final margin join —
        # three consumers of the query's dominant cost (the interpreted
        # sequential-double cosine over every cross-lang pair). Without
        # a lineage cut each consumer re-enumerates and re-scores every
        # pair; DISK_ONLY keeps the pair-sized blocks out of the
        # unified memory pool (operators/materialize.py).
        .transform(spill_checkpoint)
    )
    return _margin_topk(p)


def _bitext_lang_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lang, embedding, nrm) — embeddings tagged with their
    document's language, shared by l68 (exact) and l68b (IVF path)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        load(spark, sf_dir, "embeddings")
        .join(docs, F.col("vec_id") == F.col("doc_id"))
        .select(
            "vec_id",
            "lang",
            "embedding",
            vector.l2_norm(F.col("embedding")).alias("nrm"),
        )
    )


def _margin_topk(p: DataFrame) -> DataFrame:
    """Shared margin-ranking tail for l68/l68b: a (a_id, b_id, cos)
    pair table (cos rounded to 6 dp) → per-id top-4 neighborhood mean →
    ratio margin → global top-20 via orderBy+limit
    (TakeOrderedAndProject, plan-pinned)."""
    neigh = p.select(F.col("a_id").alias("id"), "cos").unionAll(
        p.select(F.col("b_id").alias("id"), "cos")
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc())
    mu = (
        neigh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .groupBy("id")
        .agg(F.avg("cos").alias("mu"))
    )
    m = (
        p.join(mu.withColumnRenamed("id", "a_id").withColumnRenamed("mu", "mu_a"), "a_id")
        .join(mu.withColumnRenamed("id", "b_id").withColumnRenamed("mu", "mu_b"), "b_id")
        .select(
            "a_id",
            "b_id",
            "cos",
            F.round(
                F.col("cos") / ((F.col("mu_a") + F.col("mu_b")) / 2), 6
            ).alias("margin"),
        )
    )
    return m.orderBy(
        F.col("margin").desc(), F.col("a_id").asc(), F.col("b_id").asc()
    ).limit(20)


def _margin_bitext_ivf(
    spark: SparkSession, sf_dir: str, n_lists: int = 16, nprobe: int = 6
) -> DataFrame:
    """l68 with the pair relation replaced by the IVF-probed candidate
    set — parameterized so the probe-all property test can set
    nprobe = n_lists and recover l68 bit-for-bit."""
    from nipd_spark.operators import ivf
    from nipd_spark.operators.materialize import spill_checkpoint

    # Exact-dup collapse (the l14b/minhash degeneracy discipline): byte-
    # identical (lang, embedding) rows carry zero additional mining
    # information but would multiply the candidate relation by the
    # square of the copy count (a dup-heavy crawl is the NORM at 100 TB
    # — the 16x replica is 16 copies per vector, and without this
    # collapse its candidate stage OOMed an 8 GiB heap). Mining runs
    # once per distinct content; on an all-distinct corpus (the
    # fixture) min(vec_id) of a singleton group is the row itself, so
    # the collapse is the identity and probe-all == l68 exactly.
    e = (
        _bitext_lang_embeddings(spark, sf_dir)
        .groupBy("lang", "embedding")
        .agg(F.min("vec_id").alias("vec_id"))
        .select(
            "vec_id",
            "lang",
            "embedding",
            vector.l2_norm(F.col("embedding")).alias("nrm"),
        )
    )
    emb = e.select("vec_id", "embedding")
    cen = ivf.train_centroids(emb, n_lists=n_lists, iters=2)
    assigned = ivf.assign(emb, cen)
    probe_w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("list_id").asc()
    )
    probes = (
        emb.crossJoin(F.broadcast(cen))
        .select(
            "vec_id",
            "list_id",
            # the operator's own probe expression — reusing it keeps
            # l68b's probes bit-aligned with ivf.candidates/assign if
            # probe tie-breaking or centroid normalization ever changes
            ivf._centroid_cos().alias("ccos"),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select(F.col("vec_id").alias("p_id"), "list_id")
    )
    # candidate pairs = vectors meeting in a probed list, canonicalized
    # by id so each unordered pair survives .distinct() exactly once
    meet = (
        probes.join(
            assigned.select(F.col("vec_id").alias("t_id"), "list_id"),
            "list_id",
        )
        .filter(F.col("p_id") != F.col("t_id"))
        .select(
            F.least("p_id", "t_id").alias("x_id"),
            F.greatest("p_id", "t_id").alias("y_id"),
        )
        .distinct()
    )
    ex = e.select(
        F.col("vec_id").alias("x_id"),
        F.col("lang").alias("lang_x"),
        F.col("embedding").alias("emb_x"),
        F.col("nrm").alias("nrm_x"),
    )
    ey = e.select(
        F.col("vec_id").alias("y_id"),
        F.col("lang").alias("lang_y"),
        F.col("embedding").alias("emb_y"),
        F.col("nrm").alias("nrm_y"),
    )
    # relabel (x, y) to (a, b) with lang_a < lang_b — l68's orientation.
    # The cosine is evaluated on (x, y) regardless: IEEE multiply is
    # commutative, so dot(x,y) and nrm_x*nrm_y match l68's (a,b)
    # orientation bit-for-bit even when flipped.
    flip = F.col("lang_x") > F.col("lang_y")
    p = (
        meet.join(ex, "x_id")
        .join(ey, "y_id")
        .filter(F.col("lang_x") != F.col("lang_y"))
        .select(
            F.when(flip, F.col("y_id")).otherwise(F.col("x_id")).alias("a_id"),
            F.when(flip, F.col("x_id")).otherwise(F.col("y_id")).alias("b_id"),
            F.round(
                vector.cosine(
                    F.col("emb_x"),
                    F.col("emb_y"),
                    F.col("nrm_x"),
                    F.col("nrm_y"),
                ),
                6,
            ).alias("cos"),
        )
        # same three-consumer role as l68's pair table; candidate-sized
        # now, but still the dominant cost — cut lineage once
        .transform(spill_checkpoint)
    )
    return _margin_topk(p)


@query("l68b_margin_bitext_ivf", sql=None, tags=("L4", "L5", "L9", "O3"))
def l68b_margin_bitext_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin bitext mining on the IVF candidate set — the 100 TB scale
    path l68's docstring promises (cf. l65 → l65b) [PK: Artetxe &
    Schwenk, ACL 2019 — the paper itself mines margins over FAISS-IVF
    neighborhoods, not exact pair enumeration]. Every vector probes its
    ``nprobe`` nearest coarse lists; candidates are cross-language
    vectors meeting in a probed list (equi-join on list_id); margins —
    cosine over the mean of each side's top-4 CANDIDATE neighborhood —
    and the global top-20 are computed on candidates only, downstream
    unchanged (_margin_topk).

    Rows-only: the candidate set is approximate by design. Anchors:
    (a) probe-all (nprobe = n_lists) reproduces l68's oracled top-20
    EXACTLY on the all-distinct fixture (property test — the meet
    relation then contains every cross-lang pair, cosines are
    bit-identical by commutativity, and the dup collapse is the
    identity); (b) the top-20 overlap vs l68 at the default nprobe is
    measured and reported by the same test module and recorded in
    SCALE.md.

    Plan shape for 100 TB: byte-identical (lang, embedding) rows
    collapse to one representative first (map-side-combined agg —
    dup-heavy crawls would otherwise square the candidate volume);
    train/assign/probe are broadcast-centroid map passes (C centroids,
    never fact-sized); the ONLY pair-producing stage is the equi-join
    on list_id, so candidate FLOPs scale as Θ(distinct² · nprobe /
    n_lists) with n_lists chosen ~√distinct in production —
    sub-quadratic and fully shuffle-partitioned, no Cartesian anywhere
    (plan-pinned). The exact l68 remains the correctness anchor; this
    is the shape you actually run on a crawl.
    """
    return _margin_bitext_ivf(spark, sf_dir, n_lists=16, nprobe=6)


# Query→vector designation for the MMR re-rank: IMPORTED from the RRF
# family so l65/l70/l69 provably measure the same retrieval task (a
# copied tuple would silently diverge if the designations rotate).
# Re-exported under a local name because tests monkeypatch it.
from nipd_spark.queries.text_llm import _RRF_QVECS as _MMR_QVECS


def _mmr_select(rel, sims, k: int, lam: float):
    """Pure-python MMR selection over one candidate set: returns
    [(idx, mmr_score)] of length ≤ k. Candidates MUST be pre-sorted by
    doc_id so the strict-> argmax breaks ties to the lowest doc_id."""
    n = len(rel)
    selected: list = []
    remaining = list(range(n))
    out = []
    for _ in range(min(k, n)):
        best_i, best_s = None, None
        for i in remaining:
            if not selected:
                s = float(rel[i])
            else:
                s = lam * float(rel[i]) - (1.0 - lam) * max(
                    float(sims[i][j]) for j in selected
                )
            if best_s is None or s > best_s:
                best_i, best_s = i, s
        selected.append(best_i)
        remaining.remove(best_i)
        out.append((best_i, best_s))
    return out


@query("l69_mmr_diversify", sql=None, tags=("L4", "L5", "O4", "D4"))
def l69_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking [PK: Carbonell &
    Goldstein, "The Use of MMR, Diversity-Based Reranking for
    Reordering Documents and Producing Summaries", SIGIR 1998]: for
    each eval query, take the exact-cosine top-20 dense candidates and
    greedily select a diversified top-5 maximizing
    λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s) with λ = 0.7 — the standard
    redundancy-suppressing re-rank for RAG context assembly and
    dedup-aware retrieval (a near-duplicate of an already-selected
    document scores its relevance minus ~1·(1−λ) and loses). Ties
    break to the lowest doc_id (candidates scanned in doc_id order,
    strictly-greater argmax).

    Rows-only by design: the greedy sequential argmax is an iterative
    selection over a shrinking candidate set — not expressible as the
    ANSI SQL the oracle harness mirrors. Correctness is pinned by a
    from-scratch Python MMR reference on a crafted corpus with planted
    duplicates (tests/test_operators_properties.py).

    Plan shape for 100 TB: candidate generation is the k-bounded path
    — 4 query vectors broadcast across the embeddings scan (map-side
    cosine in codegen; the IVF tier replaces the scan at real scale,
    cf. l65b), cut to 20 rows/query by the salted two-level top-k. The
    MMR itself runs per query on its ≤ 20-row group via applyInPandas:
    Python, but over k²-bounded work per query (20·20 sims), never
    corpus-sized — the group count scales with queries, not documents,
    so parallelism follows the query workload.
    """
    import numpy as np
    import pandas as pd

    from nipd_spark.queries.text_llm import _salted_topk

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", vector.l2_norm(F.col("embedding")))
    )
    qmap = spark.createDataFrame(
        list(_MMR_QVECS), "query_id int, vec_id long"
    )
    qv = e.join(F.broadcast(qmap), "vec_id").select(
        "query_id",
        F.col("embedding").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    dsc = e.crossJoin(F.broadcast(qv)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(
            vector.dot(F.col("qemb"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm")),
            6,
        ).alias("rel"),
    )
    cand = _salted_topk(
        dsc.withColumnRenamed("rel", "score"), k=20
    ).withColumnRenamed("score", "rel")
    # unit vectors for the pairwise candidate-candidate cosines
    unit = e.select(
        F.col("vec_id").alias("doc_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / F.col("nrm"),
        ).alias("uvec"),
    )
    cv = cand.join(unit, "doc_id").select("query_id", "doc_id", "rel", "uvec")

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        V = np.stack(pdf["uvec"].to_numpy())
        sims = V @ V.T
        picks = _mmr_select(pdf["rel"].to_numpy(), sims, 5, 0.7)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "rn": range(1, len(picks) + 1),
                "doc_id": [int(pdf["doc_id"].iloc[i]) for i, _ in picks],
                "mmr_score": [round(s, 6) for _, s in picks],
            }
        )

    return cv.groupBy("query_id").applyInPandas(
        mmr, "query_id int, rn long, doc_id long, mmr_score double"
    )


@query("l75_ivf_incremental", sql=None, tags=("L5", "S6", "A1"))
def l75_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the production insert path
    [PK: Sivic & Zisserman ICCV'03 inverted-file retrieval; the
    IVF-Flat add-without-retrain discipline documented in the FAISS
    design papers (Johnson, Douze & Jégou, IEEE Big Data 2019)]:
    arriving vectors are assigned to the FROZEN coarse quantizer and
    appended to the inverted lists; the quantizer is only retrained
    when drift says so. The query simulates one ingest cycle — train
    on the 90% base (vec_id % 10 ≠ 0), insert the 10% arrival batch —
    and emits the per-list maintenance report a real deployment
    monitors: base/new occupancy (imbalance = hot lists), and the mean
    assignment cosine of arrivals vs base (a falling new-vector cosine
    = the batch lands far from existing centroids = retrain signal).

    Rows-only by design: k-means internals. Completeness of the
    updated index is property-pinned: probe-all search over the frozen
    quantizer + unioned lists returns EXACTLY the brute-force kNN over
    base ∪ arrivals (tests/test_operators_properties.py) — no vector
    is lost by skipping the retrain.

    Plan shape for 100 TB: training is the l5b bounded-iteration
    k-means on the base (broadcast C centroids, equi-keyed partials);
    the arrival batch's assignment is one map-side broadcast-C argmax
    over ONLY the new vectors — cost proportional to the ingest batch,
    not the index — and the occupancy/drift report is a C-row
    aggregate. Appending assignments is a parquet append to the l56
    persisted index layout; nothing fact-sized reshuffles.
    """
    from nipd_spark.operators import ivf

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    new = e.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    cen = ivf.train_centroids(base, n_lists=8, iters=2).cache()

    def _assign_cos(part: DataFrame) -> DataFrame:
        scored = part.crossJoin(F.broadcast(cen)).select(
            "vec_id",
            "list_id",
            ivf._centroid_cos().alias("ccos"),
        )
        return scored.groupBy("vec_id").agg(
            F.max_by(
                F.struct("list_id", "ccos"),
                F.struct(F.col("ccos"), -F.col("list_id")),
            ).alias("a")
        ).select("vec_id", F.col("a.list_id").alias("list_id"),
                 F.col("a.ccos").alias("ccos"))

    ab = _assign_cos(base)
    an = _assign_cos(new)
    sb = ab.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.round(F.avg("ccos"), 6).alias("base_cos"),
    )
    sn = an.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.round(F.avg("ccos"), 6).alias("new_cos"),
    )
    # FULL outer: a frozen-quantizer batch can land in a list with zero
    # base members (the strongest retrain signal this report exists to
    # surface) — a left join would silently drop exactly those rows.
    # try_divide keeps growth NULL-safe when n_base = 0.
    return (
        sb.join(sn, "list_id", "full")
        .fillna(0, subset=["n_base", "n_new"])
        .select(
            "list_id",
            "n_base",
            "n_new",
            F.round(
                F.try_divide(
                    F.col("n_new"), F.col("n_base").cast("double")
                ),
                6,
            ).alias("growth"),
            "base_cos",
            "new_cos",
            F.round(F.col("new_cos") - F.col("base_cos"), 6).alias(
                "drift"
            ),
        )
    )


@query(
    "l5_recall_certificate",
    # Certificate oracle (the a4b precedent, r11 VERDICT item 6): the
    # query-set size is recomputed by DuckDB; the two claims are
    # verified Spark-side against the exact GEMM anchor and hashed:
    # probe-all IVF == exact kNN EXACTLY (every vector lives in some
    # probed list, so the candidate set is total and the re-rank is
    # bit-exact — an integer 100), and the production nprobe=4 recall
    # holds a measured floor (77-78% on this isotropic corpus at both
    # gate SFs; bound 60% with margin).
    sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(5 AS BIGINT) AS k,
           TRUE AS probe_all_exact,
           TRUE AS recall4_floor_ok
    FROM embeddings WHERE vec_id < 20
    """,
    tags=("L5", "L4"),
)
def l5_recall_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certificate for the IVF ANN path (l5b): against the
    exact GEMM top-5 anchor (l4b), (a) probing ALL 8 lists returns
    exactly the exact answer — the structural guarantee that IVF
    search is exhaustive-search-with-pruning, previously only
    property-pinned, now driver-hash-green; (b) the production
    nprobe=4 setting keeps recall@5 >= 60% on this corpus (measured
    0.77-0.78 at sf0.001/sf0.01 — isotropic Gaussian embeddings are
    the worst case for coarse quantization [PK: Jégou et al., PQ/IVF
    TPAMI 2011]; real clustered corpora sit far higher).

    Plan shape for 100 TB: an AUDIT query over a bounded 20-query
    probe set — the exact anchor costs 20×n dot products via
    broadcast GEMM blocks; the scalar certificate row assembles via
    broadcast-of-1-row crossJoins (the allowed scalar-frame idiom).
    """
    from nipd_spark.operators import ivf

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 20)
    ex = knn.topk_per_query_gemm(e, q, k=5).select("q_id", "neighbor_id")
    cen = ivf.train_centroids(e, n_lists=8, iters=2).cache()
    assigned = ivf.assign(e, cen)
    pa = ivf.search(e, q, cen, assigned, k=5, nprobe=8).select(
        "q_id", "neighbor_id"
    )
    a4 = ivf.search(e, q, cen, assigned, k=5, nprobe=4).select(
        "q_id", "neighbor_id"
    )
    nq = ex.select("q_id").distinct().agg(
        F.count(F.lit(1)).alias("n_queries")
    )
    n_ex = ex.agg(F.count(F.lit(1)).alias("n_ex"))
    pa_miss = ex.join(pa, ["q_id", "neighbor_id"], "left_anti").agg(
        F.count(F.lit(1)).alias("pa_missed")
    )
    hits4 = ex.join(a4, ["q_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("hits4")
    )
    return (
        nq.crossJoin(n_ex)
        .crossJoin(pa_miss)
        .crossJoin(hits4)
        .select(
            "n_queries",
            F.lit(5).cast("long").alias("k"),
            (F.col("pa_missed") == 0).alias("probe_all_exact"),
            (
                F.col("hits4") * 100 >= F.col("n_ex") * 60
            ).alias("recall4_floor_ok"),
        )
    )
