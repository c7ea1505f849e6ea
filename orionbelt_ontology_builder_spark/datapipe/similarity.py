"""Approximate-nearest-neighbor search over an embedding column.

``embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)``.

Two paths:

* ``brute_topk`` — exact cosine top-k: broadcast the (small) query set
  against the corpus, one narrow JVM ``zip_with`` fold per (query, vec)
  pair, ``row_number`` per query.  Exact baseline and recall oracle.
* ``ivf_topk`` / ``ivf_cosine_pairs`` — the scale path: IVF coarse
  quantization with **centroid count ~ sqrt(n)** and **multi-probe
  assignment**.  With k = sqrt(n) lists the per-list self-join is
  O((n/sqrt(n))^2) = O(n) per list and O(n^1.5) total — each list an
  independent partition — instead of the O(n^2/k) a fixed small k
  degenerates to.  Multi-probe (every vector lands in its ``a_probe``
  nearest lists) recovers the near-dups that straddle a single-list
  boundary.  At 100 TB the inverted lists are the partitioning scheme
  of the stored table itself (write once partitioned by centroid id ->
  partition pruning serves each probe).

Centroid selection: the oracle-paired default is a deterministic
evenly-strided sample of the corpus (both engines compute the identical
set); ``kmeans_centroids`` is the production seeding — Lloyd iterations
over a corpus sample, broadcast-assignment + mean-per-cluster each round
(pytest-verified; k-means is iterative floating-point and therefore not
oracle-paired, matching the driver contract's rows-only tier).

Dot-product form selection (all measured on this host): the unrolled
``dot_expr(.., dim)`` beats the aggregate/zip_with fold only in plain
whole-stage-codegen scan projections (~1.7x on a 200k x 64 scan).  In
every JOIN-stage projection it LOSES — ~8x on a BroadcastNestedLoopJoin
(crossJoin / non-equi broadcast join, where projections evaluate
interpreted and a 400-node tree with per-node boxing can't compete with
the fold's one specialized loop) and ~3x even above shuffled equi-joins
(the giant single-expression method blows the JIT's HugeMethodLimit and
runs as interpreted bytecode).  Hence: unroll only in ``_with_norm`` /
centroid-norm projections; fold in every join stage regardless of
``dim``.

Determinism contract: cosines are raw doubles — both engines fold the
same values in the same index order in double precision, so results are
bit-identical; ranking ties break on vec_id / centroid_id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.linking import bucket_pairs
from .dedup import dot_expr

NPROBE = 2       # query-side probes (topk)
A_PROBE = 2      # corpus-side multi-probe assignment (pairs)


def _with_norm(e: DataFrame, dim: int | None = None) -> DataFrame:
    return e.select(
        "vec_id",
        "embedding",
        F.sqrt(F.expr(dot_expr("embedding", "embedding", dim))).alias("nrm"),
    )


def brute_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): exact top-k by cosine for the
    first ``n_queries`` vec_ids (self excluded)."""
    e = _with_norm(embeddings, dim)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            # non-equi broadcast join => BNLJ => interpreted projection:
            # the unrolled form is ~8x SLOWER there (measured); keep the fold
            F.expr(dot_expr("q_emb", "embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos"
        )
        .orderBy("query_id", "rank")
    )


def brute_topk_oracle(n_queries: int = 5, k: int = 5) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM e
      WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_dot_product(q.q_emb, e.emb) / (q.q_nrm * e.nrm) AS cos
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id AS neighbor_id, rank, cos
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ #
# centroids
# ------------------------------------------------------------------ #


def n_centroids_for(n: int) -> int:
    """k ~ sqrt(n), floor 4: keeps per-list population ~ sqrt(n), so
    total pair work is O(n^1.5) at any corpus size."""
    return max(4, math.isqrt(max(1, n)))


def strided_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    dim: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """(centroid_id 0..k-1, c_emb, c_nrm): vectors whose vec_id falls on
    an even stride — deterministic, identically computable in SQL (the
    oracle pairing), window-free (a pure filter: no global sort, no
    shuffle), and an unbiased spread when ids are uncorrelated with
    embedding space.  Production seeding refines this with
    ``kmeans_centroids``; the assignment joins downstream are identical
    either way.  Pass ``n`` (the corpus count) when the caller already
    knows it — every count here is a blocking Spark job, and callers
    like ``ivf_topk`` otherwise pay it twice per invocation."""
    e = _with_norm(embeddings, dim)
    if n is None:
        n = embeddings.count()
    stride = max(1, n // n_centroids)
    return (
        e.filter(
            (F.col("vec_id") % stride == 0)
            & (F.col("vec_id") / stride < n_centroids)
        )
        .select(
            (F.col("vec_id") / stride).cast("int").alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )


def _centroids_cte() -> str:
    """DuckDB twin of strided_centroids (k = sqrt(n) default)."""
    return """
n_cte AS (SELECT count(*) AS n FROM embeddings),
k_cte AS (SELECT greatest(4, CAST(floor(sqrt(n)) AS INT)) AS k FROM n_cte),
s_cte AS (SELECT greatest(1, CAST(n // k AS INT)) AS stride FROM n_cte, k_cte),
c AS (
  SELECT CAST(vec_id // stride AS INT) AS centroid_id, emb AS c_emb,
         nrm AS c_nrm
  FROM e, s_cte, k_cte
  WHERE vec_id % stride = 0 AND vec_id // stride < k)
"""


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    iters: int = 2,
    sample_fraction: float | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Sampled Lloyd refinement of the strided seeds — the production
    centroid path.  Each iteration: broadcast the k centroids, assign
    the (sampled) corpus by max cosine, recompute each centroid as the
    element-wise mean of its members (posexplode + groupBy(cluster,
    pos) — map-side partials, one narrow shuffle of k*dim rows).
    Deterministic given the deterministic seeds and a hash-free sample
    (``vec_id % m == 0``).  Iterative float math => pytest-verified
    (inertia monotonicity + assignment validity), not oracle-paired.
    """
    n = embeddings.count()
    if n_centroids is None:
        n_centroids = n_centroids_for(n)
    if sample_fraction is None:
        # sample ~ 50x the centroid count — plenty for coarse quantization
        sample_fraction = min(1.0, (50 * n_centroids) / max(1, n))
    m = max(1, int(1 / sample_fraction))
    sample = _with_norm(embeddings, dim).filter(F.col("vec_id") % m == 0)
    cents = strided_centroids(embeddings, n_centroids, dim, n=n)
    for _ in range(iters):
        assigned = (
            sample.crossJoin(F.broadcast(cents))
            .withColumn(
                "cos",
                # crossJoin => BNLJ => interpreted: fold wins (see module note)
                F.expr(dot_expr("c_emb", "embedding"))
                / (F.col("c_nrm") * F.col("nrm")),
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(
                        F.desc("cos"), F.asc("centroid_id")
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select("centroid_id", "embedding")
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("v").alias("mv"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("mv")))
                    ),
                    lambda s: s["mv"].cast("float"),
                ).alias("c_emb")
            )
        )
        cents = means.select(
            "centroid_id",
            "c_emb",
            F.sqrt(F.expr(dot_expr("c_emb", "c_emb", dim))).alias("c_nrm"),
        ).localCheckpoint(eager=True)
    return cents


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    a_probe: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, centroid_id): each vector assigned to its ``a_probe``
    nearest centroids (multi-probe).  Broadcast the centroid table; one
    pass over the corpus — at scale this IS the partition-key
    computation for the stored table.

    The scored frame is pruned to (vec_id, centroid_id, cos) BEFORE any
    exchange: the BNLJ output otherwise carries both the vector and the
    centroid embedding through the rank shuffle (n*k rows x 2*dim
    floats — ~100 MB at 2k vectors/45 lists, TBs at corpus scale, for
    a selection that only needs three narrow columns).  For the common
    single-probe case the argmax is ONE aggregation with map-side
    partials (max over (cos, -centroid_id) structs — identical
    ordering to the window's cos DESC, centroid_id ASC) instead of a
    sort-based window shuffle.  (A plan-literal quantizer variant was
    measured 4-5x SLOWER here: Catalyst re-evaluates the big literal
    array through interpreted higher-order lambdas per row.)

    The BNLJ preserves the stream side's partitioning, and its scoring
    projection is interpreted (CPU-bound): a corpus that arrives in
    fewer partitions than the cluster has slots (one small parquet
    file) would serialize the whole n*k fold through those few tasks —
    fan it out first.  At real scale the scan already yields >= slots
    partitions and this is a no-op (no shuffle added)."""
    e = _with_norm(embeddings, dim)
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if e.rdd.getNumPartitions() < par:
        e = e.repartition(par)
    scored = (
        e.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cos",
            # crossJoin => BNLJ => interpreted: fold wins (see module note)
            F.expr(dot_expr("c_emb", "embedding"))
            / (F.col("c_nrm") * F.col("nrm")),
        )
        .select("vec_id", "centroid_id", "cos")
    )
    if a_probe == 1:
        return (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cos"), (-F.col("centroid_id")).alias("neg_cid")
                    )
                ).alias("best")
            )
            .select("vec_id", (-F.col("best.neg_cid")).alias("centroid_id"))
        )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= a_probe)
        .select("vec_id", "centroid_id")
    )


def _assign_cte(a_probe: int) -> str:
    return f"""
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id, row_number() OVER
      (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.c_emb, e.emb) / (c.c_nrm * e.nrm) DESC,
        c.centroid_id ASC) AS rk
    FROM e CROSS JOIN c)
  WHERE rk <= {a_probe})
"""


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = NPROBE,
    centroids: DataFrame | None = None,
    dim: int | None = None,
    n_total: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): ANN via IVF probing.

    Query probes its ``nprobe`` closest centroids; candidates = vectors
    assigned to those lists; exact cosine + top-k within candidates.
    Callers that already know the corpus size (parquet footer metadata,
    a cached table stat) pass ``n_total`` and no blocking count job
    runs at all.
    """
    e = _with_norm(embeddings, dim)
    if centroids is None:
        if n_centroids is None:
            if n_total is None:
                n_total = embeddings.count()
            n_centroids = n_centroids_for(n_total)
        # the ONE corpus count above is reused for the stride (r2 paid
        # the count twice plus an eager checkpoint job per call); the
        # lazy checkpoint materializes the k-row table inside the first
        # consuming job instead of a separate blocking job, and both
        # broadcast passes below reuse the cached blocks.
        centroids = strided_centroids(
            embeddings, n_centroids, dim, n=n_total
        ).localCheckpoint(eager=False)
    assign = ivf_assign(embeddings, centroids, a_probe=1, dim=dim)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # probe ranking and candidate dedup run on NARROW frames — the
    # query embedding rejoins (broadcast, few rows) only for the final
    # exact scoring, so no exchange ever carries an embedding column
    # except the one feeding the cosine itself.
    qprobe = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "ccos",
            # crossJoin => BNLJ => interpreted: fold wins (see module note)
            F.expr(dot_expr("c_emb", "q_emb"))
            / (F.col("c_nrm") * F.col("q_nrm")),
        )
        .select("query_id", "centroid_id", "ccos")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ccos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "centroid_id")
    )
    # no dedup shuffle needed: the corpus assignment is single-probe
    # (each vector lives in exactly ONE inverted list), so a (query,
    # vec) pair can only be generated once even with nprobe > 1
    cands = (
        qprobe.join(assign, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = cands.join(F.broadcast(q), "query_id").join(e, "vec_id").withColumn(
        "cos",
        # join-stage projection: fold wins (see module note)
        F.expr(dot_expr("q_emb", "embedding"))
        / (F.col("q_nrm") * F.col("nrm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos"
        )
        .orderBy("query_id", "rank")
    )


def ivf_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.42,
    n_centroids: int | None = None,
    a_probe: int = A_PROBE,
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos): near-dup pairs restricted to vectors sharing an
    IVF inverted list — the corpus-scale replacement for the all-pairs
    cosine join.

    k ~ sqrt(n) lists keep total pair work O(n^1.5) (each list an
    independent partition); ``a_probe``-way multi-probe assignment
    catches near-dup pairs straddling a list boundary (each vector sits
    in its 2 nearest lists, so a pair is generated whenever ANY list is
    shared).  Pairs are deduped on (id_a, id_b) before the cosine is
    computed once per pair.
    """
    e = _with_norm(embeddings, dim)
    if centroids is None:
        n_total = None
        if n_centroids is None:
            n_total = embeddings.count()
            n_centroids = n_centroids_for(n_total)
        centroids = strided_centroids(embeddings, n_centroids, dim, n=n_total)
    # Materialize the (vec_id, centroid_id) assignment before the
    # self-join: both join sides reuse it, so without this the whole
    # assignment lineage executes twice.  At corpus scale this
    # materialization IS the inverted-list table write (stored
    # partitioned by centroid_id -> partition-pruned, shuffle-free
    # per-list self-joins).
    assign = ivf_assign(
        embeddings, centroids.localCheckpoint(eager=True), a_probe, dim
    ).localCheckpoint(eager=True)
    a = assign.alias("a")
    b = assign.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    ea = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # Widen the scoring stage: AQE coalesces the few-MB candidate
    # shuffle to 1 partition, serializing the CPU-heavy cosine stage
    # (measured 2x on 180k pairs; at cluster scale the coalesced stage
    # would idle every executor but one).
    spark = embeddings.sparkSession
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "id_a")
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            "cos",
            # join-stage projection: fold wins (see module note)
            F.expr(dot_expr("emb_a", "emb_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def ivf_cosine_pairs_oracle(
    threshold: float = 0.42, a_probe: int = A_PROBE
) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
{_centroids_cte()},
{_assign_cte(a_probe)},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) AS cos
FROM cand c
JOIN e ea ON ea.vec_id = c.id_a
JOIN e eb ON eb.vec_id = c.id_b
WHERE list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) >= {threshold}
ORDER BY id_a, id_b
"""


def ivf_topk_oracle(
    n_queries: int = 5,
    k: int = 5,
    nprobe: int = NPROBE,
) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
{_centroids_cte()},
{_assign_cte(1)},
q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM e
      WHERE vec_id < {n_queries}),
qprobe AS (
  SELECT query_id, q_emb, q_nrm, centroid_id FROM (
    SELECT q.query_id, q.q_emb, q.q_nrm, c.centroid_id, row_number() OVER
      (PARTITION BY q.query_id ORDER BY
        list_dot_product(c.c_emb, q.q_emb) / (c.c_nrm * q.q_nrm) DESC,
        c.centroid_id ASC) AS rk
    FROM q CROSS JOIN c)
  WHERE rk <= {nprobe}),
cand AS (
  SELECT DISTINCT p.query_id, p.q_emb, p.q_nrm, a.vec_id
  FROM qprobe p JOIN assign a USING (centroid_id)
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT cand.query_id, cand.vec_id,
    list_dot_product(cand.q_emb, e.emb) / (cand.q_nrm * e.nrm) AS cos
  FROM cand JOIN e ON e.vec_id = cand.vec_id),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id AS neighbor_id, rank, cos
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ #
# int8 scalar quantization (storage/IO compression for ANN corpora)
# ------------------------------------------------------------------ #


def sq8_stats(embeddings: DataFrame) -> DataFrame:
    """(vec_id, scale, mse, max_abs_err) — per-vector symmetric int8
    scalar quantization audit: ``scale = max|v_i| / 127``, codes
    ``q_i = round_half_up(v_i / scale)``, and the reconstruction error
    of ``q_i * scale`` against the original.  The 4x storage/IO cut a
    100 TB embedding corpus takes before ANN serving; this op is the
    quality gate that decides whether int8 (vs fp16 / no-op) is safe
    for a given embedding family.

    Engine-portable arithmetic: elements cast to DOUBLE first,
    ``floor(x + 0.5)`` instead of ``round`` (Spark/DuckDB half-rules
    differ — the engineering notes), zero vectors guarded via ``nullif(scale, 0)``
    with a coalesce-to-0 reconstruction.  Pure per-row projection —
    no shuffle, embarrassingly parallel at any scale (higher-order
    exprs are CodegenFallback, but this is a scan projection, not a
    join-side or aggregate expression — the interpreted cost is one
    pass over each vector)."""
    errs = (
        "transform(embedding, x -> CAST(x AS DOUBLE) - "
        "coalesce(floor(CAST(x AS DOUBLE) / nullif(scale, 0d) + 0.5d)"
        " * scale, 0d))"
    )
    return (
        embeddings.select(
            "vec_id",
            "embedding",
            F.expr(
                "array_max(transform(embedding,"
                " x -> abs(CAST(x AS DOUBLE)))) / 127.0d"
            ).alias("scale"),
        )
        .select(
            "vec_id",
            "scale",
            F.expr(
                f"aggregate({errs}, 0d, (acc, e) -> acc + e * e)"
                " / size(embedding)"
            ).alias("mse"),
            F.expr(f"array_max(transform({errs}, e -> abs(e)))").alias(
                "max_abs_err"
            ),
        )
        .orderBy("vec_id")
    )


def sq8_stats_oracle() -> str:
    errs = (
        "list_transform(emb, x -> x - "
        "coalesce(floor(x / nullif(scale, 0) + 0.5) * scale, 0))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
    list_aggregate(list_transform(emb, x -> abs(x)), 'max') / 127.0 AS scale
  FROM e),
err AS (SELECT vec_id, scale, {errs} AS er FROM s)
SELECT vec_id, scale,
  list_aggregate(list_transform(er, x -> x * x), 'sum') / len(er) AS mse,
  list_aggregate(list_transform(er, x -> abs(x)), 'max') AS max_abs_err
FROM err ORDER BY vec_id
"""


# ------------------------------------------------------------------ #
# per-label centroids (class prototypes / cluster-quality probe)
# ------------------------------------------------------------------ #


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """(label, n_vecs, centroid_norm, avg_dist2) — per-label mean
    embedding summarized by its L2 norm, plus the mean squared
    distance of members to their centroid (within-class dispersion).
    The prototype/cluster-quality probe: nearest-centroid classifiers,
    SemDeDup-style cluster pruning, and embedding-drift monitors all
    start here.

    Plan: posexplode to (label, dim_idx, value) -> one groupBy(label,
    dim_idx) average (keys uniform, map-side partials) -> per-label
    norm.  Dispersion uses the identity E||x - mu||^2 = E||x||^2 -
    ||mu||^2, so it needs NO second pass over (vector x centroid)
    pairs — one extra per-label aggregate of precomputed ||x||^2.
    Summary scalars (not the raw centroid array) keep the output
    engine-portable; per-group accumulation order differs between
    engines, but the ULP-level noise sits far inside the driver's
    %.6g comparison (verified at sf0.001 and sf0.01)."""
    ex = embeddings.select(
        "label",
        F.expr(f"aggregate({_D}, 0d, (a, x) -> a + x * x)").alias("sq"),
        F.posexplode(F.col("embedding")).alias("dim_idx", "v"),
    )
    per_dim = ex.groupBy("label", "dim_idx").agg(
        F.avg(F.col("v").cast("double")).alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.avg("sq").alias("esq"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("centroid_norm"),
            (F.max("esq") - F.sum(F.col("m") * F.col("m"))).alias("avg_dist2"),
        )
        .orderBy("label")
    )


_D = "transform(embedding, x -> CAST(x AS DOUBLE))"


def label_centroids_oracle() -> str:
    return """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS emb,
    list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')
      AS sq
  FROM embeddings),
ex AS (
  SELECT label, sq, unnest(emb) AS v,
         unnest(range(1, len(emb) + 1)) AS dim_idx
  FROM e),
per_dim AS MATERIALIZED (
  SELECT label, dim_idx, avg(v) AS m, count(*)::BIGINT AS n,
         avg(sq) AS esq
  FROM ex GROUP BY label, dim_idx)
SELECT label, max(n) AS n_vecs,
  sqrt(sum(m * m)) AS centroid_norm,
  max(esq) - sum(m * m) AS avg_dist2
FROM per_dim GROUP BY label ORDER BY label
"""


# ------------------------------------------------------------------ #
# covariance statistics (PCA / whitening prep)
# ------------------------------------------------------------------ #


def embedding_covariance(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """(i, j, cov) for 0 <= i <= j < dim — the population covariance
    matrix of the embedding corpus in ONE data pass: the
    PCA/whitening/OPQ-rotation prep statistic every IVF-PQ-style index
    build starts from (public ANN literature).

    Scale shape: the upper-triangle cross products are generated
    *in-row* (nested transform over the array — no self-join, no
    data-scale shuffle); the only shuffle is the dim²/2-keyed groupBy
    with map-side partial sums, so reducer input is #partitions ×
    2080 rows, not #vectors × 2080.  Means ride a second tiny agg on
    the same scan.  The d×d result is driver-sized by construction —
    feed it to any eigensolver."""
    pairs = F.explode(
        F.expr(
            f"""flatten(transform(slice(embedding, 1, {dim}), (x, i) ->
                 transform(slice(embedding, i + 1, {dim} - i), (y, k) ->
                   struct(i AS i, i + k AS j,
                          CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS xy))))"""
        )
    ).alias("p")
    sums = (
        embeddings.select(pairs)
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("sxy"), F.count(F.lit(1)).alias("n"))
    )
    means = (
        embeddings.select(
            F.posexplode(F.expr(f"slice(embedding, 1, {dim})")).alias(
                "i", "x"
            )
        )
        .groupBy("i")
        .agg((F.sum(F.col("x").cast("double")) / F.count(F.lit(1))).alias("mean"))
    )
    mi = means.select(F.col("i"), F.col("mean").alias("mean_i"))
    mj = means.select(F.col("i").alias("j"), F.col("mean").alias("mean_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                F.col("sxy") / F.col("n")
                - F.col("mean_i") * F.col("mean_j")
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def embedding_covariance_oracle(dim: int = 64) -> str:
    return f"""
WITH pairs AS (
  SELECT i.i AS i, j.j AS j,
    embedding[i.i + 1]::DOUBLE * embedding[j.j + 1]::DOUBLE AS xy
  FROM embeddings,
       unnest(range(0, {dim})) AS i(i),
       unnest(range(0, {dim})) AS j(j)
  WHERE j.j >= i.i),
sums AS (
  SELECT i, j, sum(xy) AS sxy, count(*) AS n
  FROM pairs GROUP BY 1, 2),
means AS (
  SELECT i.i AS i, sum(embedding[i.i + 1]::DOUBLE) / count(*) AS mean
  FROM embeddings, unnest(range(0, {dim})) AS i(i)
  GROUP BY 1)
SELECT s.i, s.j, s.sxy / s.n - mi.mean * mj.mean AS cov
FROM sums s
JOIN means mi ON s.i = mi.i
JOIN means mj ON s.j = mj.i
ORDER BY s.i, s.j
"""


# ------------------------------------------------------------------ #
# Contrastive hard-negative mining (embedding-training pairs)
# ------------------------------------------------------------------ #

HARD_LO = 0.30   # band floor: below this a pair is an easy negative
HARD_HI = 0.42   # band ceiling: at/above this it's a near-dup positive
HARD_M = 3       # hardest negatives kept per anchor


def hard_negatives(
    embeddings: DataFrame,
    lo: float = HARD_LO,
    hi: float = HARD_HI,
    m: int = HARD_M,
    dim: int | None = None,
) -> DataFrame:
    """(anchor_id, neg_id, cos, pos): contrastive-training hard
    negatives — vectors *close enough to confuse* (cosine in
    ``[lo, hi)``) but below the near-dup threshold, the standard
    ANN-mined hard-negative recipe for embedding/retrieval training.
    Top-``m`` hardest per anchor, symmetric (each pair feeds both
    anchors).

    Scale shape: candidates come from the IVF inverted lists (shared-
    list self-join — O(n^1.5) total, never all-pairs); the per-anchor
    rank window partitions on anchor_id, whose population is bounded
    by the band filter, not the corpus."""
    from pyspark.sql import Window

    pairs = ivf_cosine_pairs(
        embeddings, threshold=lo, dim=dim
    ).filter(F.col("cos") < hi)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("neg_id"),
        "cos",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("neg_id"),
            "cos",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.col("neg_id")
    )
    return (
        sym.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= m)
        .orderBy("anchor_id", "pos")
    )


def hard_negatives_oracle(
    lo: float = HARD_LO, hi: float = HARD_HI, m: int = HARD_M
) -> str:
    inner = ivf_cosine_pairs_oracle(threshold=lo)
    return f"""
WITH pairs AS ({inner}),
band AS (SELECT * FROM pairs WHERE cos < {hi}),
sym AS (
  SELECT id_a AS anchor_id, id_b AS neg_id, cos FROM band
  UNION ALL
  SELECT id_b, id_a, cos FROM band),
ranked AS (
  SELECT anchor_id, neg_id, cos,
    row_number() OVER (PARTITION BY anchor_id
                       ORDER BY cos DESC, neg_id) AS pos
  FROM sym)
SELECT anchor_id, neg_id, cos, pos
FROM ranked WHERE pos <= {m}
ORDER BY anchor_id, pos
"""


def decontaminate_embedding(
    embeddings: DataFrame,
    bench_mod: int = 13,
    threshold: float = 0.99,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, max_cos, contaminated) — semantic decontamination: flag
    every corpus vector whose cosine to ANY benchmark vector reaches
    ``threshold``.  The embedding-space complement of the n-gram
    ``curation.decontaminate``: paraphrased or lightly-reworded eval
    leakage carries no shared 8-gram but sits at cosine ~1 next to its
    source (the RefinedWeb/FineWeb-style near-dup decon pass, public
    literature).  Benchmark membership here mirrors the n-gram op's
    convention: ``vec_id % bench_mod = 0`` stands in for the held-out
    eval set.

    Plan: benchmark side is DISTINCT + **broadcast** (eval suites are
    thousands of rows, never corpus-scale); corpus scans once through a
    broadcast nested-loop scoring join and ONE per-vector max-agg — no
    corpus shuffle, no pair materialization beyond the stream.  At
    |bench| beyond broadcast size the same call composes with the IVF
    path (`ivf_topk` against the benchmark as queries); the brute form
    is kept oracle-exact."""
    e = _with_norm(embeddings, dim)
    bench = e.filter(
        (F.col("vec_id") % bench_mod) == 0
    ).select(
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    corpus = e.filter((F.col("vec_id") % bench_mod) != 0)
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        (
            F.expr(dot_expr("embedding", "b_emb", dim))
            / (F.col("nrm") * F.col("b_nrm"))
        ).alias("cos"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            (F.col("max_cos") >= threshold).cast("int").alias("contaminated"),
        )
        .orderBy("vec_id")
    )


def decontaminate_embedding_oracle(
    bench_mod: int = 13, threshold: float = 0.99
) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
bench AS (SELECT emb AS b_emb, nrm AS b_nrm FROM e
          WHERE vec_id % {bench_mod} = 0),
scored AS (
  SELECT c.vec_id,
    max(list_dot_product(c.emb, b.b_emb) / (c.nrm * b.b_nrm)) AS max_cos
  FROM e c CROSS JOIN bench b
  WHERE c.vec_id % {bench_mod} <> 0
  GROUP BY c.vec_id)
SELECT vec_id, max_cos,
  (max_cos >= {threshold})::INT AS contaminated
FROM scored ORDER BY vec_id
"""


# ------------------------------------------------------------------ #
# product quantization (PQ) — code assignment + reconstruction audit
# ------------------------------------------------------------------ #

PQ_M = 4    # subspaces (dim / PQ_M dims each)
PQ_K = 16   # centroids per subspace (4-bit codes)


def _pq_slices(m: int, dim: int):
    sub_dim = dim // m
    return F.array(
        *[
            F.expr(f"slice(embedding, {i * sub_dim + 1}, {sub_dim})")
            for i in range(m)
        ]
    )


def _pq_assign(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery: (codebook ``(cid, sub, c_emb, c_nn)``,
    assignment ``(vec_id, sub, b=struct(dist_sq, cid))``).  See
    :func:`pq_codes` for the plan-shape discussion."""
    n = embeddings.count()
    stride = max(1, n // k)
    slices = _pq_slices(m, dim)
    cents = (
        embeddings.filter(
            (F.col("vec_id") % stride == 0)
            & (F.col("vec_id") / stride < k)
        )
        .select(
            (F.col("vec_id") / stride).cast("int").alias("cid"),
            F.posexplode(slices).alias("sub", "c_emb"),
        )
        .withColumn("c_nn", F.expr(dot_expr("c_emb", "c_emb")))
    )
    vec_subs = embeddings.select(
        "vec_id", F.posexplode(slices).alias("sub", "s_emb")
    ).withColumn("v_nn", F.expr(dot_expr("s_emb", "s_emb")))
    cand = vec_subs.join(F.broadcast(cents), "sub").select(
        "vec_id",
        "sub",
        "cid",
        (
            F.col("c_nn")
            + F.col("v_nn")
            - 2 * F.expr(dot_expr("c_emb", "s_emb"))
        ).alias("dist_sq"),
    )
    best = cand.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist_sq", "cid")).alias("b")
    )
    return cents, best


def pq_codes(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K, dim: int = 64
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}, mse) — product-quantization code
    assignment: the embedding splits into ``m`` contiguous subvectors,
    each assigned to its nearest of ``k`` per-subspace centroids (IVF's
    fine-quantization sibling; with m=4, k=16 a 64-dim float vector
    compresses 256 B -> 2 B, the memory step that makes billion-vector
    ANN serving feasible).  ``mse`` is the per-vector reconstruction
    error implied by the assignment (sum of subspace residuals / dim)
    — the quality gate for choosing (m, k).

    Codebook: the oracle-paired deterministic evenly-strided sample
    (same contract as :func:`strided_centroids`; production swaps in
    per-subspace k-means, assignment plan unchanged).  Scale shape:
    the codebook (m*k rows of dim/m floats) broadcasts; each vector
    explodes into m subvector rows with *static* slice offsets, joins
    the codebook on the subspace id (fan-out k), and reduces by ONE
    aggregation with map-side partials — argmin as min over
    (dist_sq, centroid) structs, deterministic tie-break, no window
    shuffle.  Distances use the shared dot-product fold (module note:
    folds win in join-stage projections) via
    ``|a-b|^2 = a.a + b.b - 2 a.b`` with every term the same fold in
    both engines, so values are bit-identical."""
    _cents, best = _pq_assign(embeddings, m, k, dim)
    return (
        best.groupBy("vec_id")
        .agg(
            *[
                F.min(
                    F.when(F.col("sub") == i, F.col("b.cid"))
                ).alias(f"code_{i}")
                for i in range(m)
            ],
            (F.sum("b.dist_sq") / dim).alias("mse"),
        )
        .orderBy("vec_id")
    )


def _pq_ctes(m: int = PQ_M, k: int = PQ_K, dim: int = 64) -> str:
    """Shared DuckDB CTE chain ending in ``best(vec_id, sub, b)`` and
    ``cn(cid, sub, c_emb, c_nn)`` — the oracle twin of
    :func:`_pq_assign`."""
    sub_dim = dim // m
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n_cte AS (SELECT count(*) AS n FROM e),
s_cte AS (SELECT greatest(1, CAST(n // {k} AS INT)) AS stride FROM n_cte),
subs AS (SELECT CAST(range AS INT) AS sub FROM range({m})),
c AS (
  SELECT CAST(vec_id // stride AS INT) AS cid, sub,
         list_slice(emb, sub * {sub_dim} + 1, sub * {sub_dim} + {sub_dim})
           AS c_emb
  FROM e, s_cte, subs
  WHERE vec_id % stride = 0 AND vec_id // stride < {k}),
cn AS (SELECT cid, sub, c_emb,
              list_dot_product(c_emb, c_emb) AS c_nn FROM c),
vs AS (
  SELECT vec_id, sub,
         list_slice(emb, sub * {sub_dim} + 1, sub * {sub_dim} + {sub_dim})
           AS s_emb
  FROM e, subs),
vn AS (SELECT vec_id, sub, s_emb,
              list_dot_product(s_emb, s_emb) AS v_nn FROM vs),
cand AS (
  SELECT vec_id, vn.sub, cid,
         c_nn + v_nn - 2 * list_dot_product(c_emb, s_emb) AS dist_sq
  FROM vn JOIN cn ON vn.sub = cn.sub),
best AS (
  SELECT vec_id, sub, min({{'d': dist_sq, 'c': cid}}) AS b
  FROM cand GROUP BY vec_id, sub)"""


def pq_codes_oracle(m: int = PQ_M, k: int = PQ_K, dim: int = 64) -> str:
    """DuckDB twin of :func:`pq_codes` — identical strided codebook,
    identical dot-product algebra, identical (dist_sq, cid) struct-min
    tie-break."""
    code_cols = ",\n  ".join(
        f"min(CASE WHEN sub = {i} THEN (b).c END) AS code_{i}"
        for i in range(m)
    )
    return f"""
WITH {_pq_ctes(m, k, dim)}
SELECT vec_id,
  {code_cols},
  sum((b).d) / {dim} AS mse
FROM best GROUP BY vec_id ORDER BY vec_id
"""


# ------------------------------------------------------------------ #
# ANN quality gate: recall@k of the IVF path vs exact top-k
# ------------------------------------------------------------------ #


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    nprobe: int = NPROBE,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, hits, recall): per-query recall@k of :func:`ivf_topk`
    against the exact :func:`brute_topk` ground truth — the eval every
    ANN deployment reads before trading exactness for the inverted-list
    scan cut (the nprobe/centroid-count tuning curve's y-axis).

    Same pattern as ``dedup.blocking_metrics``: the approximate path
    is judged against exhaustive truth at sample scale (n_queries
    bounds the brute side), and the verdict transfers because both run
    the identical scoring arithmetic.  hits are exact integers; recall
    is one double division."""
    b = brute_topk(embeddings, n_queries, k, dim=dim).select(
        "query_id", "neighbor_id"
    )
    i = ivf_topk(embeddings, n_queries, k, nprobe=nprobe, dim=dim).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        b.join(i, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("hits"))
        .withColumn("recall", F.expr(f"hits / CAST({k} AS DOUBLE)"))
        .orderBy("query_id")
    )


def ann_recall_oracle(
    n_queries: int = 5, k: int = 5, nprobe: int = NPROBE
) -> str:
    """DuckDB twin: the two top-k oracles joined on (query, neighbor)."""
    return f"""
SELECT b.query_id, count(i.neighbor_id)::BIGINT AS hits,
       count(i.neighbor_id) / CAST({k} AS DOUBLE) AS recall
FROM ({brute_topk_oracle(n_queries, k)}) b
LEFT JOIN ({ivf_topk_oracle(n_queries, k, nprobe)}) i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


# ------------------------------------------------------------------ #
# Mutual nearest neighbors: the conservative alias-merge rule
# ------------------------------------------------------------------ #


def mutual_nn_pairs(
    embeddings: DataFrame,
    threshold: float = 0.42,
    a_probe: int = A_PROBE,
    dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos): pairs that are each other's SINGLE nearest
    neighbor within the IVF candidate graph — the classic conservative
    entity-resolution merge rule (reciprocal best match: merge only
    when the attraction is mutual, so a hub near many vectors doesn't
    absorb them all; one-directional nearest-neighbor edges form
    chains, mutual ones form clean pairs).

    Scale shape: :func:`ivf_cosine_pairs` candidates (O(n^1.5) shared-
    list work) symmetrized, one per-vector top-1 window (rank by cos
    DESC then neighbor id), and a self-join on the two (src -> top1)
    maps.  Everything after the candidate stage is one-row-per-vector
    sized."""
    pairs = ivf_cosine_pairs(
        embeddings, threshold=threshold, a_probe=a_probe, dim=dim
    )
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("nbr"), "cos"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("nbr"), "cos"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("nbr"))
    top1 = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("src", "nbr", "cos")
    )
    a, b = top1.alias("a"), top1.alias("b")
    return (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.src"))
            & (F.col("b.nbr") == F.col("a.src"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .select(
            F.col("a.src").alias("id_a"),
            F.col("a.nbr").alias("id_b"),
            F.col("a.cos").alias("cos"),
        )
        .orderBy("id_a", "id_b")
    )


def mutual_nn_pairs_oracle(
    threshold: float = 0.42, a_probe: int = A_PROBE
) -> str:
    """DuckDB twin: the IVF pair oracle as a subquery + the same
    symmetrize / rank-1 / reciprocity join."""
    return f"""
WITH pairs AS ({ivf_cosine_pairs_oracle(threshold, a_probe)}),
sym AS (
  SELECT id_a AS src, id_b AS nbr, cos FROM pairs
  UNION ALL
  SELECT id_b, id_a, cos FROM pairs),
top1 AS (
  SELECT src, nbr, cos FROM (
    SELECT *, row_number() OVER
      (PARTITION BY src ORDER BY cos DESC, nbr ASC) AS rk
    FROM sym)
  WHERE rk = 1)
SELECT a.src AS id_a, a.nbr AS id_b, a.cos AS cos
FROM top1 a JOIN top1 b
  ON a.nbr = b.src AND b.nbr = a.src AND a.src < b.src
ORDER BY id_a, id_b
"""


def neighbor_mean_embedding(
    embeddings: DataFrame,
    threshold: float = 0.42,
    a_probe: int = A_PROBE,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, dim_idx, self_v, nbr_mean, n_nbrs) — one GraphSAGE-style
    mean-pool message-passing layer (Hamilton et al. 2017, public
    literature) over the IVF candidate graph: each vector's neighbors
    (cosine >= threshold within shared inverted lists) are mean-pooled
    per dimension next to the vector's own value — the
    (self, aggregated-neighborhood) pair every GNN layer consumes, and
    the smoothed representation semantic-dedup pipelines cluster on.
    Vectors with no neighbors are absent (nothing to pool).

    Scale shape: candidates from :func:`ivf_cosine_pairs` (O(n^1.5)
    shared-list work, never all-pairs), symmetrized; the pooled mean =
    posexplode + ONE (vec, dim)-keyed avg (map-side partials, keys
    uniform by construction); the self column joins back on the same
    key.  Per-group accumulation order differs between engines —
    ULP-level noise inside the driver's %.6g window (label_centroids
    precedent)."""
    pairs = ivf_cosine_pairs(
        embeddings, threshold=threshold, a_probe=a_probe, dim=dim
    )
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("nbr"))
    )
    nbrv = sym.join(
        embeddings.select(F.col("vec_id").alias("nbr"), "embedding"), "nbr"
    )
    agg = (
        nbrv.select("src", F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("src", "dim_idx")
        .agg(
            F.avg(F.col("v").cast("double")).alias("nbr_mean"),
            F.count(F.lit(1)).alias("n_nbrs"),
        )
    )
    selfe = embeddings.select(
        F.col("vec_id").alias("src"),
        F.posexplode("embedding").alias("dim_idx", "sv"),
    )
    return (
        selfe.join(agg, ["src", "dim_idx"])
        .select(
            F.col("src").alias("vec_id"),
            F.col("dim_idx").cast("long").alias("dim_idx"),
            F.col("sv").cast("double").alias("self_v"),
            "nbr_mean",
            "n_nbrs",
        )
        .orderBy("vec_id", "dim_idx")
    )


def neighbor_mean_embedding_oracle(
    threshold: float = 0.42, a_probe: int = A_PROBE
) -> str:
    """DuckDB twin: IVF pair oracle as subquery + identical
    symmetrize / per-dim avg / self join (0-based dim_idx both
    sides)."""
    return f"""
WITH nmp_pairs AS ({ivf_cosine_pairs_oracle(threshold, a_probe)}),
nmp_sym AS (
  SELECT id_a AS src, id_b AS nbr FROM nmp_pairs
  UNION ALL SELECT id_b, id_a FROM nmp_pairs),
nmp_e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
nmp_nx AS (
  SELECT s.src, unnest(e.emb) AS v,
         unnest(range(len(e.emb))) AS dim_idx
  FROM nmp_sym s JOIN nmp_e e ON s.nbr = e.vec_id),
nmp_agg AS (
  SELECT src, dim_idx, avg(v) AS nbr_mean, count(*)::BIGINT AS n_nbrs
  FROM nmp_nx GROUP BY src, dim_idx),
nmp_se AS (
  SELECT vec_id AS src, unnest(emb) AS self_v,
         unnest(range(len(emb))) AS dim_idx
  FROM nmp_e)
SELECT s.src AS vec_id, s.dim_idx::BIGINT AS dim_idx, s.self_v,
       a.nbr_mean, a.n_nbrs
FROM nmp_se s JOIN nmp_agg a ON s.src = a.src AND s.dim_idx = a.dim_idx
ORDER BY vec_id, dim_idx
"""


def top_eigenvector(
    embeddings: DataFrame, dim: int = 64, iters: int = 3
) -> DataFrame:
    """(dim_idx, component, eigenvalue) — the covariance matrix's
    dominant eigenvector (the first PCA direction) by ``iters`` power
    iterations, entirely as DataFrame algebra: matvec = one join of
    the dim²-sized covariance against the dim-sized vector + one
    i-keyed sum.  The whitening/OPQ-rotation seed statistic; at corpus
    scale only :func:`embedding_covariance`'s single data pass touches
    the vectors — the iteration itself is vocabulary-sized.

    Determinism: v0 is the constant 1/8 vector (exact double), the
    iteration count is FIXED, and no intermediate normalization is
    applied (cov spectra are small; lambda^iters cannot overflow), so
    both engines run the identical expression cascade; the one
    normalization + Rayleigh quotient happen at output.  Sign is NOT
    conventionalized — it is pinned by v0, like any fixed-seed power
    method.  Convergence to the true eigenpair needs a spectral gap
    (textbook power-method caveat): cos error ~ (lambda2/lambda1)^iters,
    so on near-isotropic corpora the output is a gap-limited estimate —
    the planted-direction pytest demonstrates convergence, the oracle
    pins cross-engine equality regardless of spectrum."""
    cov = embedding_covariance(embeddings, dim)
    full = cov.unionByName(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    ).persist()  # consumed once per iteration
    v = _power_seed(embeddings, dim)
    prev = None
    for _ in range(iters):
        prev = v
        v = (
            full.join(v.select(F.col("k").alias("j"), "vk"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("cov") * F.col("vk")).alias("vk"))
            .select(F.col("i").alias("k"), "vk")
        )
    ray = (
        prev.alias("p")
        .join(v.alias("c"), "k")
        .groupBy()
        .agg(
            (
                F.sum(F.col("p.vk") * F.col("c.vk"))
                / F.sum(F.col("p.vk") * F.col("p.vk"))
            ).alias("eigenvalue")
        )
    )
    nrm = v.groupBy().agg(
        F.sqrt(F.sum(F.col("vk") * F.col("vk"))).alias("nrm")
    )
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(ray))
        .select(
            F.col("k").alias("dim_idx"),
            (F.col("vk") / F.col("nrm")).alias("component"),
            "eigenvalue",
        )
        .orderBy("dim_idx")
    )


def _power_seed(embeddings: DataFrame, dim: int) -> DataFrame:
    """(k, vk=0.125) — the constant power-iteration seed, built from
    the session's range source (no driver-side list)."""
    return (
        embeddings.sparkSession.range(dim)
        .select(F.col("id").cast("int").alias("k"))
        .withColumn("vk", F.lit(0.125))
    )


def top_eigenvector_oracle(dim: int = 64, iters: int = 3) -> str:
    """DuckDB twin: covariance oracle as subquery, matvec rounds
    unrolled, one output normalization + Rayleigh quotient."""
    rounds = []
    prev = "v0"
    for r in range(1, iters + 1):
        rounds.append(f"""
v{r} AS MATERIALIZED (
  SELECT f.i AS k, sum(f.cov * v.vk) AS vk
  FROM fullm f JOIN {prev} v ON f.j = v.k
  GROUP BY f.i)""")
        prev = f"v{r}"
    return f"""
WITH covu AS MATERIALIZED ({embedding_covariance_oracle(dim)}),
fullm AS MATERIALIZED (
  SELECT i, j, cov FROM covu
  UNION ALL SELECT j, i, cov FROM covu WHERE i <> j),
v0 AS (SELECT k::INT AS k, 0.125 AS vk FROM range({dim}) t(k)),
{",".join(rounds)},
ray AS (
  SELECT sum(p.vk * c.vk) / sum(p.vk * p.vk) AS eigenvalue
  FROM v{iters - 1} p JOIN v{iters} c ON p.k = c.k),
nrm AS (SELECT sqrt(sum(vk * vk)) AS nrm FROM v{iters})
SELECT v.k AS dim_idx, v.vk / n.nrm AS component, r.eigenvalue
FROM v{iters} v CROSS JOIN nrm n CROSS JOIN ray r
ORDER BY dim_idx
"""


def dbscan_clusters(
    embeddings: DataFrame,
    eps_cos: float = 0.6,
    min_pts: int = 3,
    a_probe: int = A_PROBE,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, cluster, role) — DBSCAN (Ester et al. 1996, public
    literature) over the IVF candidate graph: neighborhood = cosine >=
    ``eps_cos``; a vector with >= ``min_pts`` neighbors is CORE;
    clusters = connected components of the core-core graph (min member
    id); border points (non-core with a core neighbor) attach to their
    minimum adjacent core cluster; noise is absent from the output.
    The SemDeDup-style density grouping that, unlike k-means, needs no
    k and leaves outliers alone.

    Scale shape: neighbor pairs from :func:`ivf_cosine_pairs` (never
    all-pairs), degree = one key agg, core filter = two semi-joins,
    components via the O(log n) star algorithm, border attach = one
    join + min-agg.  Every stage key-partitioned."""
    from ..operators.fixpoint import connected_components

    pairs = ivf_cosine_pairs(
        embeddings, threshold=eps_cos, a_probe=a_probe, dim=dim
    ).persist()  # consumers: degree, core edges, border attach
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("nbr"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("n_eps"))
    core = (
        deg.filter(F.col("n_eps") >= min_pts)
        .select(F.col("src").alias("node"))
        .persist()
    )
    ce = (
        pairs.join(core.select(F.col("node").alias("id_a")), "id_a", "left_semi")
        .join(core.select(F.col("node").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comp = connected_components(ce)
    core_lab = core.join(comp, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("cluster")
    )
    border = (
        sym.join(core.select(F.col("node").alias("src")), "src", "left_anti")
        .join(
            core_lab.select(F.col("node").alias("nbr"), "cluster"), "nbr"
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.min("cluster").alias("cluster"))
    )
    return (
        core_lab.withColumn("role", F.lit("core"))
        .unionByName(border.withColumn("role", F.lit("border")))
        .select(F.col("node").alias("vec_id"), "cluster", "role")
        .orderBy("vec_id")
    )


def dbscan_clusters_oracle(
    eps_cos: float = 0.6, min_pts: int = 3, a_probe: int = A_PROBE
) -> str:
    """DuckDB twin: IVF pair oracle + identical degree/core/CC/border
    cascade (recursive reachability over core edges, min member id)."""
    return f"""
WITH RECURSIVE dbp AS MATERIALIZED ({ivf_cosine_pairs_oracle(eps_cos, a_probe)}),
dbsym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS nbr FROM dbp
  UNION ALL SELECT id_b, id_a FROM dbp),
dbdeg AS (SELECT src, count(*) AS n_eps FROM dbsym GROUP BY src),
dbcore AS MATERIALIZED (
  SELECT src AS node FROM dbdeg WHERE n_eps >= {min_pts}),
dbce AS MATERIALIZED (
  SELECT p.id_a AS u, p.id_b AS v FROM dbp p
  WHERE p.id_a IN (SELECT node FROM dbcore)
    AND p.id_b IN (SELECT node FROM dbcore)),
dbcesym AS MATERIALIZED (
  SELECT u, v FROM dbce UNION SELECT v, u FROM dbce),
reach(n, m) AS (
  SELECT node, node FROM dbcore
  UNION
  SELECT r.n, s.v FROM reach r JOIN dbcesym s ON r.m = s.u),
comp AS (SELECT n AS node, min(m) AS cluster FROM reach GROUP BY n),
core_lab AS MATERIALIZED (
  SELECT c.node, coalesce(p.cluster, c.node) AS cluster
  FROM dbcore c LEFT JOIN comp p ON c.node = p.node),
border AS (
  SELECT s.src AS node, min(l.cluster) AS cluster
  FROM dbsym s
  JOIN core_lab l ON s.nbr = l.node
  WHERE s.src NOT IN (SELECT node FROM dbcore)
  GROUP BY s.src)
SELECT node AS vec_id, cluster, 'core' AS role FROM core_lab
UNION ALL
SELECT node, cluster, 'border' FROM border
ORDER BY vec_id
"""


# ------------------------------------------------------------------ #
# Signed-random-projection (SRP) LSH for cosine
# ------------------------------------------------------------------ #

#: SRP defaults: 2 tables x 12 bits.  P[bit agrees] = 1 - theta/pi, so
#: a cos 0.42 pair (theta ~ 65deg) agrees on a full 12-bit key with
#: p ~ 0.64^12 per table — defaults tuned for the near-dup regime
#: (cos >= 0.9, p ~ 0.9^12 ~ 0.28/table, ~0.48 with 2 tables) where
#: SRP is actually used; the exact cosine verify keeps precision 1.0.
SRP_BITS = 12
SRP_TABLES = 2


def _srp_sign(table: int, bit: int, d: int) -> int:
    """Deterministic Rademacher(+-1) hyperplane component from md5 —
    pure Python constants, so Spark and DuckDB see literally the same
    hyperplanes (no engine hashing involved)."""
    import hashlib

    h = hashlib.md5(f"srp:{table}:{bit}:{d}".encode()).hexdigest()
    return 1 if h[0] in "01234567" else -1


def _srp_bucket_expr(
    table: int, emb: str, dim: int, elem: str, n_bits: int = SRP_BITS
) -> str:
    """SQL for one table's bucket key: concat of sign bits of
    hyperplane dot products.  Left-to-right +- accumulation with each
    element cast to double — bit-identical across engines (the
    ``dot_expr`` determinism argument)."""
    bits = []
    for b in range(n_bits):
        terms = []
        for d in range(1, dim + 1):
            s = "+" if _srp_sign(table, b, d) > 0 else "-"
            terms.append(f"{s} CAST({elem.format(a=emb, i=d)} AS DOUBLE)")
        dot = " ".join(terms)
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def srp_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.42,
    dim: int = 64,
    max_bucket: int = 50,
    n_bits: int = SRP_BITS,
    n_tables: int = SRP_TABLES,
) -> DataFrame:
    """(id_a, id_b, cos): near-dup pairs found via signed-random-
    projection LSH (Charikar 2002, public literature) — vectors sharing
    a full sign-bit key in ANY of ``SRP_TABLES`` hash tables are
    candidates; exact cosine verifies.  The data-independent
    complement of ``ivf_cosine_pairs``: no centroids to fit or refresh,
    so it works on a cold stream (first crawl of a new corpus) where
    IVF has nothing to train on, at the cost of recall tuning via
    bits/tables instead of nprobe.

    Plan: signatures are pure codegen projections (hyperplane signs are
    Python-side constants — every engine sees identical literals);
    candidates come from the capped per-(table, bucket) self-join
    ``pipeline.linking.bucket_pairs`` (tables are its bands);
    the exact cosine runs once per distinct candidate pair."""
    e = _with_norm(embeddings, dim)
    sig = embeddings.select(
        "vec_id",
        *[
            F.expr(
                _srp_bucket_expr(
                    t, "embedding", dim, "element_at({a}, {i})", n_bits
                )
            ).alias(f"t{t}")
            for t in range(n_tables)
        ],
    )
    banded = sig.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"t{t}") for t in range(n_tables)])
        ).alias("band", "bucket"),
    )
    cand = bucket_pairs(banded, max_bucket).select(
        F.col("m1").alias("id_a"), F.col("m2").alias("id_b")
    )
    ea = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            "cos",
            F.expr(dot_expr("emb_a", "emb_b", dim))
            / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def srp_lsh_pairs_oracle(
    threshold: float = 0.42,
    dim: int = 64,
    max_bucket: int = 50,
    n_bits: int = SRP_BITS,
    n_tables: int = SRP_TABLES,
) -> str:
    """DuckDB twin: identical hyperplane literals, bucket grammar, hot-
    bucket guard and exact-cosine verify."""
    tables = ",\n    ".join(
        _srp_bucket_expr(t, "emb", dim, "{a}[{i}]", n_bits) + f" AS t{t}"
        for t in range(n_tables)
    )
    per_tbl = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t} AS tbl, t{t} AS bucket FROM sig"
        for t in range(n_tables)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings),
sig AS MATERIALIZED (
  SELECT vec_id,
    {tables}
  FROM e),
long AS MATERIALIZED (
  {per_tbl}),
over_cap AS (
  SELECT tbl, bucket FROM long GROUP BY tbl, bucket
  HAVING count(*) > {max_bucket}),
kept AS MATERIALIZED (
  SELECT l.* FROM long l LEFT JOIN over_cap o USING (tbl, bucket)
  WHERE o.tbl IS NULL),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM kept a JOIN kept b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
  list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) AS cos
FROM cand c
JOIN e ea ON c.id_a = ea.vec_id
JOIN e eb ON c.id_b = eb.vec_id
WHERE list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm) >= {threshold}
ORDER BY c.id_a, c.id_b
"""


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
    dim: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist) — approximate top-k by
    asymmetric distance computation (Jégou et al. 2011, public
    literature): per query, squared-L2 distances to every corpus vector
    are APPROXIMATED from its PQ codes via a per-query lookup table —
    ``adist(q, v) = Σ_sub |q_sub - codebook[sub][code(v, sub)]|²``,
    exactly the distance from ``q`` to the PQ *reconstruction* of ``v``
    (the defining ADC identity, pinned by the tests).

    This is THE serving-scan shape for billion-vector ANN: the corpus
    contributes only its (vec_id, sub, code) table (2 bits-ish per
    dim), the query-side LUT is n_queries * m * kc small and
    BROADCASTS, and the scan is one equi-join + one keyed aggregation —
    no full-precision corpus vector is touched at query time.  The
    per-pair sum uses a FIXED per-sub conditional-min expression tree
    (never a float ``sum()`` whose partition order could flip last-ulp
    ranks across engines).  Ties break on neighbor_id ascending."""
    cents, best = _pq_assign(embeddings, m, kc, dim)
    codes = best.select("vec_id", "sub", F.col("b.cid").alias("cid"))
    slices = _pq_slices(m, dim)
    q_subs = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(slices).alias("sub", "q_emb"),
        )
        .withColumn("q_nn", F.expr(dot_expr("q_emb", "q_emb")))
    )
    lut = q_subs.join(F.broadcast(cents), "sub").select(
        "query_id",
        "sub",
        "cid",
        (
            F.col("c_nn")
            + F.col("q_nn")
            - 2 * F.expr(dot_expr("c_emb", "q_emb"))
        ).alias("d"),
    )
    adist = None
    for i in range(m):
        t = F.min(F.when(F.col("sub") == i, F.col("d")))
        adist = t if adist is None else adist + t
    approx = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("vec_id")
    )
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "adist",
        )
        .orderBy("query_id", "rank")
    )


def pq_adc_topk_oracle(
    n_queries: int = 5,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
    dim: int = 64,
) -> str:
    """DuckDB twin: identical codebook/assignment CTEs, identical LUT
    algebra, identical fixed-tree per-sub sum and tie-break."""
    adist = " + ".join(
        f"min(CASE WHEN sub = {i} THEN d END)" for i in range(m)
    )
    return f"""
WITH {_pq_ctes(m, kc, dim)},
qs AS (
  SELECT vec_id AS query_id, sub, s_emb AS q_emb, v_nn AS q_nn
  FROM vn WHERE vec_id < {n_queries}),
lut AS (
  SELECT query_id, qs.sub, cid,
         c_nn + q_nn - 2 * list_dot_product(c_emb, q_emb) AS d
  FROM qs JOIN cn ON qs.sub = cn.sub),
codes AS (SELECT vec_id, sub, (b).c AS cid FROM best),
joined AS (
  SELECT query_id, vec_id, l.sub, d
  FROM codes c JOIN lut l ON c.sub = l.sub AND c.cid = l.cid
  WHERE vec_id <> query_id),
approx AS (
  SELECT query_id, vec_id, {adist} AS adist
  FROM joined GROUP BY query_id, vec_id),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM approx)
SELECT query_id, vec_id AS neighbor_id, rank, adist
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


# ------------------------------------------------------------------ #
# embedding drift monitor (cross-crawl centroid shift)
# ------------------------------------------------------------------ #


def embedding_drift(embeddings: DataFrame) -> DataFrame:
    """(label, n_a, n_b, l2_drift, cos_centroids) — per-label centroid
    shift between two corpus snapshots: the embedding-space twin of
    ``textstats.vocab_drift`` (did this crawl's representation of a
    class move?), the standard production monitor for embedding-model
    or upstream-content drift before ANN indexes / dedup thresholds
    silently rot.  ``l2_drift`` = ||c_a - c_b||; ``cos_centroids`` =
    directional agreement of the two centroids.

    Snapshots here are the deterministic vec_id-parity halves (the
    fixture has no crawl column; production passes a real crawl id —
    the plan is identical).  Plan: ONE posexplode + ONE (label, dim)
    conditional-average agg + ONE per-label rollup — map-side partials
    everywhere, output is labels x 1 rows.  Per-group float
    accumulation order is engine-noise far inside the %.6g comparison
    (the ``label_centroids`` precedent)."""
    ex = embeddings.select(
        "label",
        (F.col("vec_id") % 2).alias("crawl"),
        F.posexplode(F.col("embedding")).alias("dim_idx", "v"),
    )
    per_dim = ex.groupBy("label", "dim_idx").agg(
        F.avg(
            F.when(F.col("crawl") == 0, F.col("v").cast("double"))
        ).alias("c0"),
        F.avg(
            F.when(F.col("crawl") == 1, F.col("v").cast("double"))
        ).alias("c1"),
        F.sum((F.col("crawl") == 0).cast("long")).alias("n0"),
        F.sum((F.col("crawl") == 1).cast("long")).alias("n1"),
    )
    d = F.col("c0") - F.col("c1")
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n0").alias("n_a"),
            F.max("n1").alias("n_b"),
            F.sqrt(F.sum(d * d)).alias("l2_drift"),
            (
                F.sum(F.col("c0") * F.col("c1"))
                / (
                    F.sqrt(F.sum(F.col("c0") * F.col("c0")))
                    * F.sqrt(F.sum(F.col("c1") * F.col("c1")))
                )
            ).alias("cos_centroids"),
        )
        .orderBy("label")
    )


def embedding_drift_oracle() -> str:
    """DuckDB twin: identical parity split, conditional averages and
    rollup algebra."""
    return """
WITH e AS (
  SELECT label, vec_id % 2 AS crawl, embedding::DOUBLE[] AS emb
  FROM embeddings),
ex AS (
  SELECT label, crawl, unnest(emb) AS v,
         unnest(range(1, len(emb) + 1)) AS dim_idx
  FROM e),
per_dim AS MATERIALIZED (
  SELECT label, dim_idx,
    avg(CASE WHEN crawl = 0 THEN v END) AS c0,
    avg(CASE WHEN crawl = 1 THEN v END) AS c1,
    sum(CASE WHEN crawl = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
    sum(CASE WHEN crawl = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
  FROM ex GROUP BY label, dim_idx)
SELECT label, max(n0) AS n_a, max(n1) AS n_b,
  sqrt(sum((c0 - c1) * (c0 - c1))) AS l2_drift,
  sum(c0 * c1) / (sqrt(sum(c0 * c0)) * sqrt(sum(c1 * c1)))
    AS cos_centroids
FROM per_dim GROUP BY label ORDER BY label
"""
