"""KG-embedding link-prediction evaluation (DistMult-family ranking).

The evaluation half of the KG-embedding loop whose training half is
``negatives.kg_negative_samples``: given entity embeddings and a set of
eval triples (h, r, t), compute each true tail's *rank* among all
candidate entities under a bilinear DistMult score — the standard
raw-rank link-prediction protocol from the public KG-embedding
literature (Bordes et al. TransE / Yang et al. DistMult evaluation
setup).

The distributed insight: rank-of-the-true-tail does NOT need a global
sort.  ``rank = 1 + |{c : score(c) > score(t)}|`` (ties broken by
candidate id) is a *counting aggregation* — so the whole protocol is
one pass over the entity table per query batch: broadcast the (tiny)
query set, score every (query, candidate) pair map-side, and aggregate
per query.  No top-k heap, no sort, no shuffle of the entity table; at
100 TB the entity scan parallelizes over splits and the per-query
counts combine as partial aggs.

Relation embeddings are derived deterministically from the relation id
via md5 parity (a fixed ±1 sign pattern per dimension) so the operator
is self-contained over the ``embeddings(vec_id, embedding, label)``
table and bit-reproducible in the DuckDB oracle — a real deployment
feeds trained relation vectors through the same signed-head rewrite
(``h ⊙ r`` precomputed per query, candidate side untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dot_expr

__all__ = ["distmult_rank", "distmult_rank_oracle"]

#: eval-triple derivation constants (tail = smallest vec_id >= (h*31+7)
#: mod (max_id+1), wrapping) — shared by Spark and the oracle.
TAIL_MUL = 31
TAIL_OFF = 7


def _sign_sql(rel: str, i: int) -> str:
    """±1 from md5 parity of '<rel>|<i>' — portable Spark/DuckDB
    (md5 hex is identical; first hex char parity keys the sign)."""
    return (
        f"(1 - 2 * (CAST(conv(substring(md5(concat_ws('|', "
        f"CAST({rel} AS STRING), '{i}')), 1, 2), 16, 10) AS INT) % 2))"
    )


def distmult_rank(
    embeddings: DataFrame, n_queries: int = 8, dim: int = 64
) -> DataFrame:
    """(h_id, rel, t_id, t_rank, n_candidates) — raw-protocol
    link-prediction rank of each eval triple's true tail among all
    entities under DistMult ``score(h,r,c) = Σ_i h_i·s_i(r)·c_i``.

    Plan shape: the query set (``n_queries`` smallest vec_ids, relation
    = the head's label, tail derived by modular arithmetic over the id
    space) is rows-bounded and broadcast; the sign pattern is folded
    into the head once (``h ⊙ r`` — ``zip_with`` on Q rows only), so
    the hot path is a plain dot product per (query, candidate) pair
    followed by a Q-group counting agg.  One entity-table pass, partial
    aggs, no global sort.
    """
    e = embeddings.select("vec_id", "embedding", "label")
    mx = e.agg(
        F.max("vec_id").alias("max_id"), F.min("vec_id").alias("min_id")
    )
    qh = (
        e.orderBy("vec_id")
        .limit(n_queries)
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("vec_id").alias("h_id"),
            F.col("embedding").alias("h_emb"),
            F.col("label").alias("rel"),
            (
                (F.col("vec_id") * TAIL_MUL + TAIL_OFF)
                % (F.col("max_id") + 1)
            ).alias("target"),
        )
    )
    # true tail: smallest vec_id >= target (wrap to global min) — a
    # conditional agg over one broadcast pass, no positional index.
    cand_ids = e.select(F.col("vec_id").alias("cand"))
    tails = (
        cand_ids.crossJoin(F.broadcast(qh))
        .groupBy("h_id", "rel", "target")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("cand") >= F.col("target"), F.col("cand"))),
                F.min("cand"),
            ).alias("t_id")
        )
    )
    # signed head h ⊙ r (array<double>), built once per query row
    sign_arr = F.array(*[F.expr(_sign_sql("rel", i)) for i in range(dim)])
    signed = (
        qh.join(tails.select("h_id", "t_id"), "h_id")
        .withColumn("signs", sign_arr)
        .withColumn(
            "hs",
            F.expr(
                "zip_with(h_emb, signs, (x, s) ->"
                " CAST(x AS DOUBLE) * CAST(s AS DOUBLE))"
            ),
        )
        .select("h_id", "rel", "t_id", "hs")
    )
    # true-tail score
    truth = (
        signed.join(
            e.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_emb")),
            "t_id",
        )
        .withColumn("s_true", F.expr(dot_expr("hs", "t_emb")))
        .select("h_id", "rel", "t_id", "hs", "s_true")
    )
    # one pass over all candidates; rank by counting strictly-better
    # scores (ties by candidate id) — no sort
    cands = e.select(
        F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb")
    )
    scored = cands.crossJoin(F.broadcast(truth)).withColumn(
        "s_c", F.expr(dot_expr("hs", "c_emb"))
    )
    better = (F.col("s_c") > F.col("s_true")) | (
        (F.col("s_c") == F.col("s_true")) & (F.col("cand") < F.col("t_id"))
    )
    return (
        scored.groupBy("h_id", "rel", "t_id")
        .agg(
            (F.lit(1) + F.sum(F.when(better, 1).otherwise(0))).alias("t_rank"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .orderBy("h_id")
    )


def distmult_rank_oracle(n_queries: int = 8, dim: int = 64) -> str:
    """DuckDB twin: naive per-dimension lambda arithmetic; parity
    proves the signed-head rewrite + counting rank equal the direct
    bilinear-score protocol bit-for-bit."""
    sign = (
        f"(1 - 2 * (('0x' || substr(md5(rel::VARCHAR || '|' || "
        f"(i - 1)::VARCHAR), 1, 2))::INT % 2))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, label
  FROM embeddings),
mx AS (SELECT max(vec_id) AS max_id FROM e),
qh AS (
  SELECT vec_id AS h_id, label AS rel,
         (vec_id * {TAIL_MUL} + {TAIL_OFF}) % (mx.max_id + 1) AS target
  FROM e, mx ORDER BY vec_id LIMIT {n_queries}),
tails AS (
  SELECT q.h_id, q.rel, q.target,
    coalesce(min(c.vec_id) FILTER (c.vec_id >= q.target), min(c.vec_id))
      AS t_id
  FROM qh q CROSS JOIN e c GROUP BY q.h_id, q.rel, q.target),
signed AS (
  SELECT t.h_id, t.rel, t.t_id,
    list_transform(range(1, {dim + 1}),
      i -> h.emb[i] * {sign}) AS hs
  FROM tails t JOIN e h ON h.vec_id = t.h_id),
truth AS (
  SELECT s.h_id, s.rel, s.t_id, s.hs,
    list_dot_product(s.hs, te.emb) AS s_true
  FROM signed s JOIN e te ON te.vec_id = s.t_id),
scored AS (
  SELECT tr.h_id, tr.rel, tr.t_id, c.vec_id AS cand,
    list_dot_product(tr.hs, c.emb) AS s_c, tr.s_true
  FROM truth tr CROSS JOIN e c)
SELECT h_id, rel, t_id,
  1 + sum(CASE WHEN s_c > s_true
               OR (s_c = s_true AND cand < t_id) THEN 1 ELSE 0 END)
    ::BIGINT AS t_rank,
  count(*)::BIGINT AS n_candidates
FROM scored GROUP BY h_id, rel, t_id ORDER BY h_id
"""
