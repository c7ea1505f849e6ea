"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join -> Jaccard verify), SimHash, n-gram Jaccard, and embedding-cosine
near-dup, over ``documents(doc_id, text, ...)`` and
``embeddings(vec_id, embedding, label)``.

Scale design (the 100 TB story):

* Signatures are **array-native Spark SQL** (``transform``/``array_min``
  lambdas over the shingle array) — one narrow whole-stage-codegen
  projection per document, no explode, no Python, no shuffle.
* LSH candidate generation shuffles only the tiny
  ``(doc_id, band_idx, band_hash)`` projection (grouping key = band
  hash, uniformly distributed by construction), never the text.
* Degenerate buckets (boilerplate shingles shared by millions of pages)
  are capped at ``max_bucket`` members — the standard web-dedup skew
  guard: a hot bucket otherwise produces O(n^2) candidate pairs on one
  reducer.
* Jaccard verification joins shingle arrays back **only for candidate
  pairs** (a few per doc), so the quadratic step never materializes.

The portable hash primitive is md5 (bit-identical in Spark and DuckDB),
which makes every stage differentially testable against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.setops import sides
from ..pipeline.linking import bucket_pairs
from .textstats import norm_col, norm_sql, tokens_col, tokens_sql

SHINGLE = 5          # character-shingle width
MINHASH_K = 12       # signature length
BANDS = 4            # LSH bands (rows per band = MINHASH_K // BANDS)
ROWS = MINHASH_K // BANDS
MAX_BUCKET = 50      # skew guard: drop degenerate LSH buckets
SIMHASH_BITS = 24


# ------------------------------------------------------------------ #
# Exact dedup
# ------------------------------------------------------------------ #


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, keeper_doc_id, n_docs): one row per distinct
    normalized text; keeper = min doc_id.  Single hash-aggregate with
    map-side partials — the canonical exact-dedup at any scale."""
    return (
        docs.select("doc_id", F.md5(norm_col()).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("keeper_doc_id")
    )


def exact_dedup_oracle() -> str:
    return f"""
SELECT md5({norm_sql()}) AS text_hash,
       min(doc_id) AS keeper_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY keeper_doc_id
"""


# ------------------------------------------------------------------ #
# Shingles + MinHash signatures
# ------------------------------------------------------------------ #


def shingles_expr(norm: str = "norm", n: int = SHINGLE) -> str:
    """Distinct character n-gram array (Spark SQL lambda, no explode)."""
    return (
        f"array_distinct(transform(sequence(1, greatest(1, length({norm})-{n - 1})),"
        f" i -> substring({norm}, i, {n})))"
    )


def shingles_sql(norm: str, n: int = SHINGLE) -> str:
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(1, len({norm})-{n - 1})),"
        f" i -> substr({norm}, i, {n})))"
    )


#: hash functions per md5 digest: the 32-hex output is sliced into 4
#: independent 8-hex orderings — 4x fewer digest computations for the
#: same signature length (portable: DuckDB substr(md5(..)) matches).
SLICES = 4


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sh, sig_0..sig_{{k-1}}, band_0..band_{{BANDS-1}}).

    Explode shingles -> precompute the per-seed digests as a codegen
    projection -> one hash-aggregate of cheap substring-mins (plus the
    distinct shingle set).  Digests must NOT live inside the aggregate
    expressions: collect_set forces ObjectHashAggregate, whose updates
    are interpreted row-at-a-time — with md5 inside, measured 11.4s vs
    0.9s warm for this exact stage at 5k docs.  The groupBy shuffles
    (doc_id, shingle, digests) — keys uniform, partials map-side.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    n_seeds = (k + SLICES - 1) // SLICES
    ex = (
        docs.repartition(par)
        .withColumn("norm", norm_col())
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(1, length(norm)-{SHINGLE - 1})),"
                    f" i -> substring(norm, i, {SHINGLE}))"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            *[
                F.md5(F.concat(F.lit(f"{m}:"), F.col("s"))).alias(f"h{m}")
                for m in range(n_seeds)
            ],
        )
    )
    d = ex.groupBy("doc_id").agg(
        F.collect_set("s").alias("sh"),
        *[
            F.min(
                F.substring(F.col(f"h{i // SLICES}"), 1 + 8 * (i % SLICES), 8)
            ).alias(f"sig_{i}")
            for i in range(k)
        ],
    )
    for b in range(BANDS):
        cols = ", ".join(f"sig_{b * ROWS + r}" for r in range(ROWS))
        d = d.withColumn(f"band_{b}", F.expr(f"md5(concat({cols}))"))
    return d.select(
        "doc_id", "sh",
        *[f"sig_{i}" for i in range(k)],
        *[f"band_{b}" for b in range(BANDS)],
    )


def _sig_cte_sql(k: int = MINHASH_K, src: str = "documents") -> str:
    """DuckDB CTE mirroring minhash_signatures (tables: ``src``)."""
    sig_cols = ",\n    ".join(
        "list_aggregate(list_transform(sh, s -> "
        f"substr(md5('{i // SLICES}:' || s), {1 + 8 * (i % SLICES)}, 8)), 'min') AS sig_{i}"
        for i in range(k)
    )
    band_cols = ",\n    ".join(
        "md5(" + " || ".join(f"sig_{b * ROWS + r}" for r in range(ROWS)) + f") AS band_{b}"
        for b in range(BANDS)
    )
    return f"""
n AS (SELECT doc_id, {norm_sql()} AS norm FROM {src}),
shg AS (SELECT doc_id, {shingles_sql('norm')} AS sh FROM n),
sig AS (
  SELECT doc_id, sh,
    {sig_cols}
  FROM shg),
banded AS (
  SELECT *,
    {band_cols}
  FROM sig)
"""


def _band_candidates(sig: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_a, doc_b) distinct LSH candidate pairs (same hash in any
    band) from a ``minhash_signatures`` frame, hot buckets capped — the
    md5 ``band_i`` columns in the long shape of
    ``pipeline.linking.bucket_pairs``."""
    banded = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(BANDS)])).alias(
            "band", "bucket"
        ),
    )
    return bucket_pairs(banded, max_bucket).select(
        F.col("m1").alias("doc_a"), F.col("m2").alias("doc_b")
    )


def minhash_band_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): near-duplicate pairs.

    LSH candidate generation (same hash in any band) + exact shingle-
    Jaccard verification.  Shuffle footprint: the 3-column band
    projection; candidate verification joins the shingle arrays for the
    surviving pairs only.
    """
    # signatures feed three plan branches (bands, and both sides of the
    # verify join) — persist so the shingle+md5 projection runs once
    sig = minhash_signatures(docs).persist()
    cands = _band_candidates(sig, max_bucket)
    sh = sig.select("doc_id", "sh")
    return (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _pairs_cte_sql(max_bucket: int = MAX_BUCKET) -> str:
    """CTE chain through ``verified`` (doc_a, doc_b, jaccard) mirroring
    minhash_band_pairs; shared by the pair and cluster oracles."""
    bucket_filters = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b_} AS band_idx, band_{b_} AS band_hash FROM banded"
        for b_ in range(BANDS)
    )
    return f"""{_sig_cte_sql()},
long AS (
  {bucket_filters}),
ok_buckets AS (
  SELECT band_idx, band_hash FROM long GROUP BY 1, 2
  HAVING count(*) <= {max_bucket}),
capped_ids AS (
  SELECT l.doc_id, l.band_idx, l.band_hash FROM long l
  JOIN ok_buckets USING (band_idx, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped_ids a JOIN capped_ids b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
    len(list_intersect(sa.sh, sb.sh)) /
      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE
      AS jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b)"""


def minhash_band_pairs_oracle(
    jaccard_threshold: float = 0.5, max_bucket: int = MAX_BUCKET
) -> str:
    return f"""
WITH {_pairs_cte_sql(max_bucket)}
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {jaccard_threshold}
ORDER BY doc_a, doc_b
"""


def dedup_clusters(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    ordered: bool = True,
) -> DataFrame:
    """(doc_id, keeper_doc_id, cluster_size): the canonical-doc map a
    dedup pipeline actually APPLIES — connected components over the
    verified near-dup pairs, keeper = min doc_id per component.

    Composition: ``minhash_band_pairs`` (LSH candidates + exact verify)
    -> ``fixpoint.connected_components`` (large/small-star, O(log n)
    rounds) -> per-component size via groupBy + join (no window — sizes
    are one short row per component).  Only docs that appear in >=1
    verified pair are returned: the CC state is O(dup-involved docs),
    not O(corpus), so a lightly-duplicated web corpus pays for its
    duplicates only.  Dropping non-keepers then joining keeper text
    back is a broadcast-shaped join at any scale (ref: the reference
    has no cluster step; this is the engine's training-data addition)."""
    from ..operators.fixpoint import connected_components

    pairs = minhash_band_pairs(docs, jaccard_threshold, max_bucket)
    # minhash_band_pairs emits distinct pairs with doc_a < doc_b strictly
    # — CC skips its dedup shuffle + checkpoint.
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        assume_clean_pairs=True,
    )
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    out = cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keeper_doc_id"),
        "cluster_size",
    )
    # ordered=False for composition sites (curation funnel) that only
    # join/aggregate the map — the global sort is a range-partitioning
    # exchange the consumer would pay for nothing.
    return out.orderBy("doc_id") if ordered else out


def clusters_ctes_sql(
    jaccard_threshold: float = 0.5, max_bucket: int = MAX_BUCKET
) -> str:
    """CTE chain ending in ``cc(doc_id, keeper_doc_id)`` — the shared
    canonical-map fragment (needs a ``WITH RECURSIVE`` prefix).
    Consumers: :func:`dedup_clusters_oracle` and curation's
    leakage-safe split oracle."""
    return f"""{_pairs_cte_sql(max_bucket)},
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {jaccard_threshold}),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
pnodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM pnodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u),
cc AS (SELECT n AS doc_id, min(m) AS keeper_doc_id FROM reach GROUP BY n)"""


def dedup_clusters_oracle(
    jaccard_threshold: float = 0.5, max_bucket: int = MAX_BUCKET
) -> str:
    return f"""
WITH RECURSIVE {clusters_ctes_sql(jaccard_threshold, max_bucket)},
sizes AS (
  SELECT keeper_doc_id, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT cc.doc_id, cc.keeper_doc_id, sizes.cluster_size
FROM cc JOIN sizes USING (keeper_doc_id) ORDER BY doc_id
"""


# ------------------------------------------------------------------ #
# n-gram Jaccard (all-pairs verify on a candidate-free small slice)
# ------------------------------------------------------------------ #


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_doc_id: int | None = 150
) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact all-pairs shingle Jaccard above
    threshold.  Quadratic — the *verification oracle* for LSH recall at
    sample scale (hence the max_doc_id slice); never run at full corpus
    size (use minhash_band_pairs there)."""
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    sh = docs.withColumn("norm", norm_col()).select(
        "doc_id", F.expr(shingles_expr()).alias("sh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("a.sh") + F.size("b.sh") - F.col("inter")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_oracle(threshold: float = 0.5, max_doc_id: int | None = 150) -> str:
    where = f"WHERE doc_id < {max_doc_id}" if max_doc_id is not None else ""
    return f"""
WITH n AS (SELECT doc_id, {norm_sql()} AS norm FROM documents {where}),
shg AS (SELECT doc_id, {shingles_sql('norm')} AS sh FROM n)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  len(list_intersect(a.sh, b.sh)) /
    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
    AS jaccard
FROM shg a JOIN shg b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) /
    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
    >= {threshold}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------ #
# SimHash
# ------------------------------------------------------------------ #


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): {bits}-bit SimHash over whitespace tokens
    (with multiplicity).  Bit b's +-1 vote per token = high bit of hex
    nibble b of md5(token); array-native aggregate, no shuffle."""
    d = docs.withColumn("norm", norm_col()).withColumn(
        "toks", F.split(F.col("norm"), " ")
    )
    for b in range(bits):
        d = d.withColumn(
            f"v_{b}",
            F.expr(
                f"aggregate(toks, 0, (a, t) -> a + CASE WHEN "
                f"substring(md5(t), {b + 1}, 1) IN "
                f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)"
            ),
        )
    val = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return d.select(
        "doc_id", F.expr(val).cast("int").alias("simhash")
    ).orderBy("doc_id")


def _simhash_cte_sql(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n    ".join(
        f"list_sum(list_transform(toks, t -> CASE WHEN substr(md5(t), {b + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) AS v_{b}"
        for b in range(bits)
    )
    val = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
t AS (SELECT doc_id, {tokens_sql_local()} AS toks FROM documents),
v AS (SELECT doc_id,
    {votes}
  FROM t),
sh AS (SELECT doc_id, ({val})::INT AS simhash FROM v)
"""


def tokens_sql_local() -> str:
    return f"string_split({norm_sql()}, ' ')"


def simhash_oracle(bits: int = SIMHASH_BITS) -> str:
    return f"""
WITH {_simhash_cte_sql(bits)}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
"""


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within Hamming distance, via the
    pigeonhole block trick — NOT an all-pairs join.

    Split the ``bits``-bit key into ``max_hamming + 1`` blocks: two keys
    within ``max_hamming`` flips must agree exactly on at least one
    block (pigeonhole), so candidates = pairs sharing a
    ``(block_idx, block_value)`` bucket — an equi-join on the block key,
    the same shuffle shape as ``minhash_band_pairs`` — then the xor/
    bit_count verify runs per candidate only.  Output is IDENTICAL to
    the all-pairs scan (the trick is exact, not approximate); the plan
    is what changes: per-bucket micro-joins instead of O(n^2).  At
    corpus scale use bits=64 (4x16-bit blocks) so bucket population
    stays ~n/2^16 per (idx, value).
    """
    s = simhash(docs, bits)
    n_blocks = max_hamming + 1
    block_bits = (bits + n_blocks - 1) // n_blocks
    mask = (1 << block_bits) - 1
    # blocked sits on BOTH sides of the candidate self-join: persist so
    # the simhash projection + block explode run once (the
    # minhash_band_pairs persisted-signatures pattern)
    blocked = s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * block_bits).bitwiseAND(mask)
                    for b in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    ).persist()
    a = blocked.alias("a")
    b = blocked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs_oracle(max_hamming: int = 3, bits: int = SIMHASH_BITS) -> str:
    return f"""
WITH {_simhash_cte_sql(bits)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------ #
# Embedding-cosine near-dup
# ------------------------------------------------------------------ #

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot_expr(a: str, b: str, dim: int | None = None) -> str:
    """SQL dot product of two array columns, in double precision.

    With a statically-known ``dim`` the product is unrolled into plain
    multiply-adds (``element_at`` arithmetic) — these stay inside
    whole-stage codegen, ~1.7x faster than the higher-order
    aggregate/zip_with fold, which is CodegenFallback (interpreted) and
    knocks the whole projection out of codegen.  Accumulation order is
    left-to-right in both forms, so results are bit-identical; callers
    that know the embedding width (it is fixed per corpus) should pass
    it.  Without ``dim`` falls back to the width-agnostic fold.
    """
    if dim is not None:
        return " + ".join(
            f"(CAST(element_at({a}, {i}) AS DOUBLE)"
            f" * CAST(element_at({b}, {i}) AS DOUBLE))"
            for i in range(1, dim + 1)
        )
    return DOT.format(a=a, b=b)


def cosine_pairs(
    embeddings: DataFrame, threshold: float = 0.42,
    max_vec_id: int | None = None, dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos): embedding pairs with cosine >= threshold.

    All-pairs at sample scale; the corpus-scale path is
    similarity.ivf_cosine_pairs (bucketed candidates).  ``max_vec_id``
    slices the corpus — this operator is the *recall oracle* for the
    IVF path, so it runs on a sample by design, never the full corpus.
    Norms are precomputed once per vector; the pair stage is pure JVM
    arithmetic (codegen-unrolled when ``dim`` is known).
    """
    if max_vec_id is not None:
        embeddings = embeddings.filter(F.col("vec_id") < max_vec_id)
    e = embeddings.select(
        "vec_id",
        "embedding",
        F.sqrt(F.expr(dot_expr("embedding", "embedding", dim))).alias("nrm"),
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cos",
            # non-equi self-join => BNLJ => interpreted projection: the
            # unrolled form is ~8x slower there (see similarity module
            # note); keep the fold for the pair stage
            F.expr(dot_expr("a.embedding", "b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm")),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            "cos",
        )
        .orderBy("id_a", "id_b")
    )


def cosine_pairs_oracle(
    threshold: float = 0.42, max_vec_id: int | None = None
) -> str:
    where = f"WHERE vec_id < {max_vec_id}" if max_vec_id is not None else ""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings {where})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {threshold}
ORDER BY id_a, id_b
"""


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    jaccard_threshold: float = 0.6,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """(doc_id, status, dup_of) for every BATCH document, classified
    against the existing CORPUS: ``exact_dup`` (normalized text already
    present), ``near_dup`` (MinHash-LSH candidate verified at
    ``jaccard_threshold``), else ``new`` — the daily-increment path of
    a crawl pipeline, where re-deduping the whole corpus per delivery
    would be O(corpus) instead of O(batch).

    Shapes: exact = one hash aggregation of the corpus (at real scale a
    PERSISTED hash table — here derived inline) probed by a batch-side
    join; near = the standard band machinery over batch ∪ corpus with
    candidates restricted to CROSS-set pairs (batch-internal dups are
    exact_dup's job on the next increment).  ``dup_of`` = the matched
    corpus doc (min id among verified matches, exact match preferred).
    Doc ids must be disjoint across the two frames."""
    bh = batch.select("doc_id", F.md5(norm_col()).alias("h"))
    ch = (
        corpus.select(F.md5(norm_col()).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("exact_of"))
    )
    exact = bh.join(ch, "h", "left").select("doc_id", "exact_of")

    pairs = minhash_band_pairs(
        batch.unionByName(corpus), jaccard_threshold, max_bucket=max_bucket
    )
    bids = batch.select(F.col("doc_id").alias("bid"))
    # annotate endpoints with batch membership; keep cross-set pairs,
    # oriented (batch doc, corpus doc)
    pa = pairs.join(
        bids.withColumnRenamed("bid", "doc_a").withColumn("a_in", F.lit(1)),
        "doc_a",
        "left",
    ).join(
        bids.withColumnRenamed("bid", "doc_b").withColumn("b_in", F.lit(1)),
        "doc_b",
        "left",
    )
    cross = pa.filter(
        F.coalesce("a_in", F.lit(0)) != F.coalesce("b_in", F.lit(0))
    ).select(
        F.when(F.col("a_in") == 1, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id"),
        F.when(F.col("a_in") == 1, F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("cand"),
    )
    near = cross.groupBy("doc_id").agg(F.min("cand").alias("near_of"))

    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("exact_of", "near_of").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


def incremental_dedup_oracle(
    jaccard_threshold: float = 0.6,
    max_bucket: int = MAX_BUCKET,
    batch_offset: int = 1_000_000,
) -> str:
    """DuckDB twin of the driver's incremental-dedup query: the batch
    is SYNTHESIZED from the corpus (exact replicas of doc_id%10==0 at
    +offset ids; near variants of doc_id%10==5 with an appended token
    at +2*offset), then ``batch ∪ corpus`` SHADOWS the ``documents``
    name so the shared band CTE fragments compose verbatim.  Batch
    membership = doc_id >= offset."""
    off = batch_offset
    return f"""
WITH batch AS MATERIALIZED (
  SELECT doc_id + {off} AS doc_id, text, lang, source, n_chars
  FROM main.documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * off}, text || ' extra token xyz', lang, source, n_chars
  FROM main.documents WHERE doc_id % 10 = 5),
documents AS MATERIALIZED (
  SELECT * FROM main.documents UNION ALL SELECT * FROM batch),
{_pairs_cte_sql(max_bucket)},
ch AS (
  SELECT md5({norm_sql()}) AS h, min(doc_id) AS exact_of
  FROM main.documents GROUP BY 1),
bh AS (SELECT doc_id, md5({norm_sql()}) AS h FROM batch),
ex AS (SELECT bh.doc_id, ch.exact_of FROM bh LEFT JOIN ch USING (h)),
cross_p AS (
  SELECT CASE WHEN doc_a >= {off} THEN doc_a ELSE doc_b END AS doc_id,
         CASE WHEN doc_a >= {off} THEN doc_b ELSE doc_a END AS cand
  FROM verified
  WHERE jaccard >= {jaccard_threshold}
    AND ((doc_a >= {off}) <> (doc_b >= {off}))),
near AS (SELECT doc_id, min(cand) AS near_of FROM cross_p GROUP BY doc_id)
SELECT ex.doc_id,
  CASE WHEN ex.exact_of IS NOT NULL THEN 'exact_dup'
       WHEN near.near_of IS NOT NULL THEN 'near_dup'
       ELSE 'new' END AS status,
  coalesce(ex.exact_of, near.near_of) AS dup_of
FROM ex LEFT JOIN near USING (doc_id)
ORDER BY ex.doc_id
"""


# ------------------------------------------------------------------ #
# Line-level boilerplate removal (CCNet-style)
# ------------------------------------------------------------------ #

MIN_BOILERPLATE_DOCS = 3  # a line is boilerplate if >= this many docs share it


def _boilerplate_fixture_rows() -> list[tuple[int, str]]:
    header = "Home | Products | About | Contact"
    footer = "(c) 2024 Example Corp - all rights reserved"
    cookie = "We use cookies to improve your experience."
    newsletter = "Subscribe to our newsletter!"
    docs = []
    for i in range(12):
        lines = [header]
        if i % 2 == 0:
            lines.append(cookie)           # 6 docs -> heavy
        if i < 2:
            lines.append(newsletter)       # 2 docs -> below threshold, kept
        for j in range(3):
            lines.append(f"Doc {i} body line {j}: topic t{(i * 3 + j) % 7}.")
        lines.append("")                   # blank spacing line (never heavy)
        lines.append(footer)
        docs.append((i, "\n".join(lines)))
    docs.append((12, "\n".join([header, footer])))   # boilerplate-only doc
    return docs


def boilerplate_fixture_df(spark) -> DataFrame:
    return spark.createDataFrame(
        _boilerplate_fixture_rows(), "doc_id long, text string"
    )


def boilerplate_fixture_cte(alias: str = "bp_docs") -> str:
    rows = ", ".join(
        "(" + str(i) + ", '" + t.replace("'", "''").replace("\n", "' || chr(10) || '")
        + "')"
        for i, t in _boilerplate_fixture_rows()
    )
    return f"{alias}(doc_id, text) AS (VALUES {rows})"


def remove_boilerplate_lines(
    docs: DataFrame, min_docs: int = MIN_BOILERPLATE_DOCS
) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text) — CCNet-style line-level
    dedup: a normalized line appearing in >= ``min_docs`` distinct
    documents is boilerplate (nav bars, cookie banners, footers) and is
    dropped from every document; blank lines are never counted heavy
    (they are spacing, not content).  The per-line counterpart of
    document-level ``exact_dedup_groups`` — the standard first pass of
    a Common-Crawl curation pipeline (CCNet / RefinedWeb run exactly
    this before any document-level dedup).

    Plan: one ``posexplode`` of the split text, one grouped
    count-distinct on the md5 line key (map-side partial), then the
    heavy-line list — tiny by the power law that makes boilerplate
    boilerplate — broadcast anti-joins the line table, and one
    groupBy(doc_id) reassembles the surviving lines in position order.
    Two shuffles total (line-key agg + per-doc reassembly); the
    reassembly state is bounded by single-document size.  At 100 TB
    the heavy list at any sane threshold is millions of rows, not
    billions — still broadcastable; if not, the anti-join degrades
    gracefully to a shuffled one on the same key."""
    lines = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\n")).alias("n_lines"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("key", F.md5(F.lower(F.trim(F.col("line")))))
    heavy = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("key")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("key")
    )
    kept = lines.join(F.broadcast(heavy), "key", "left_anti")
    agg = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )
    n_lines = docs.select(
        "doc_id", F.size(F.split(F.col("text"), "\n")).alias("n_lines")
    )
    return (
        n_lines.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def remove_boilerplate_lines_oracle(
    table: str = "bp_docs", min_docs: int = MIN_BOILERPLATE_DOCS
) -> str:
    return f"""
WITH {boilerplate_fixture_cte()},
split AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM {table}),
lines AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS line,
    md5(lower(trim(parts[i]))) AS key
  FROM split, unnest(generate_series(1, len(parts))) AS u(i)),
heavy AS (
  SELECT key FROM lines WHERE trim(line) <> ''
  GROUP BY key HAVING count(DISTINCT doc_id) >= {min_docs}),
kept AS (
  SELECT l.* FROM lines l LEFT JOIN heavy h USING (key)
  WHERE h.key IS NULL),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id),
nl AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM {table})
SELECT nl.doc_id, nl.n_lines,
  coalesce(agg.n_kept, 0) AS n_kept,
  coalesce(agg.clean_text, '') AS clean_text
FROM nl LEFT JOIN agg USING (doc_id)
ORDER BY nl.doc_id
"""


# ------------------------------------------------------------------ #
# Fingerprint-containment dedup (substring/subset duplication)
# ------------------------------------------------------------------ #

CONTAIN_GRAM = 5      # word-gram width for containment fingerprints
CONTAIN_MOD = 4       # keep grams whose hash % mod == 0 (~1/mod sampled)
CONTAIN_THRESHOLD = 0.5


def containment_pairs(
    docs: DataFrame,
    gram: int = CONTAIN_GRAM,
    mod: int = CONTAIN_MOD,
    threshold: float = CONTAIN_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b, shared, fp_a, fp_b, contain_a, contain_b) — doc
    pairs where one side's sampled fingerprint set is >= ``threshold``
    contained in the intersection: the SUBSTRING/SUBSET-duplication
    detector (quote farms, wrapper pages, partial scrapes) that
    Jaccard-style MinHash misses by construction (a short doc embedded
    in a long one has low Jaccard but containment ~1; Broder's
    containment measure / RefinedWeb substring-dedup stage).

    Fingerprints are the deterministic "0 mod p" selection
    (Manber/Broder): a doc's distinct word-``gram`` md5s whose leading
    16 bits are ``% mod == 0`` — every engine and every run samples
    the SAME grams, so containment is exact over the sample, not an
    estimate that varies.  ``contain_a = shared / fp_a`` (and
    symmetrically b); a pair is emitted when either side clears
    ``threshold``.  Docs too short to yield any sampled gram cannot
    appear (documented; lower ``mod`` to cover them).

    Plan: grams are exploded as strings and the md5 + mod-selection
    run as a CODEGEN projection over the exploded rows — md5 must not
    live inside the higher-order ``transform``/``filter`` lambdas,
    which are CodegenFallback (interpreted per element; the same
    hoisting that took the MinHash signature stage 11.4s -> 0.9s).
    The surviving sampled hashes (~tokens/mod per doc) dedup once to
    the distinct (doc_id, h) set, group once for the boilerplate-gram
    skew cap (a gram in > ``max_bucket`` docs is dropped via
    broadcast anti-join — the same guard as the MinHash bands), then
    one self-equi-join on the hash key makes candidate pairs and one
    grouped count computes |intersection| directly — no per-pair
    re-verification pass needed, the count IS the measure."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    grams = (
        docs.repartition(par)
        .withColumn("norm", norm_col())
        .withColumn("toks", tokens_col())
        .filter(F.size("toks") >= gram)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {gram - 1}), "
                    f"i -> array_join(slice(toks, i, {gram}), ' '))"
                )
            ).alias("g"),
        )
    )
    ex = (
        grams.select("doc_id", F.md5("g").alias("h"))
        .filter(
            F.conv(F.substring("h", 1, 4), 16, 10).cast("long") % mod == 0
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    fp_counts = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("fp_n"))
    hot = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("h")
    )
    ex = ex.join(F.broadcast(hot), "h", "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            F.broadcast(fp_counts.select(
                F.col("doc_id").alias("doc_a"), F.col("fp_n").alias("fp_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(fp_counts.select(
                F.col("doc_id").alias("doc_b"), F.col("fp_n").alias("fp_b"))),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", "shared", "fp_a", "fp_b",
            (F.col("shared").cast("double") / F.col("fp_a").cast("double"))
            .alias("contain_a"),
            (F.col("shared").cast("double") / F.col("fp_b").cast("double"))
            .alias("contain_b"),
        )
        .filter(
            (F.col("contain_a") >= threshold) | (F.col("contain_b") >= threshold)
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs_oracle(
    gram: int = CONTAIN_GRAM,
    mod: int = CONTAIN_MOD,
    threshold: float = CONTAIN_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
    table: str = "documents",
) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, {tokens_sql(norm_sql())} AS toks FROM {table}),
fp AS (
  SELECT doc_id,
    list_distinct(list_filter(list_transform(
      generate_series(1, greatest(0, len(toks) - {gram - 1})),
      i -> md5(array_to_string(toks[i:i+{gram - 1}], ' '))),
      h -> ('0x' || substr(h, 1, 4))::BIGINT % {mod} = 0)) AS fps
  FROM t),
fpn AS (
  SELECT doc_id, len(fps) AS fp_n FROM fp WHERE len(fps) > 0),
ex AS (
  SELECT doc_id, unnest(fps) AS h FROM fp WHERE len(fps) > 0),
hot AS (
  SELECT h FROM ex GROUP BY h HAVING count(*) > {max_bucket}),
exg AS (
  SELECT ex.doc_id, ex.h FROM ex LEFT JOIN hot USING (h)
  WHERE hot.h IS NULL),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM exg a JOIN exg b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT s.doc_a, s.doc_b, s.shared, fa.fp_n AS fp_a, fb.fp_n AS fp_b,
  s.shared::DOUBLE / fa.fp_n::DOUBLE AS contain_a,
  s.shared::DOUBLE / fb.fp_n::DOUBLE AS contain_b
FROM shared s
JOIN fpn fa ON s.doc_a = fa.doc_id
JOIN fpn fb ON s.doc_b = fb.doc_id
WHERE s.shared::DOUBLE / fa.fp_n::DOUBLE >= {threshold}
   OR s.shared::DOUBLE / fb.fp_n::DOUBLE >= {threshold}
ORDER BY s.doc_a, s.doc_b
"""


# ------------------------------------------------------------------ #
# Passage-level duplication (substring-dedup signal)
# ------------------------------------------------------------------ #

PASSAGE_N = 3  # word n-gram width (test-corpus scale; 50-token spans
               # in the published substring-dedup rule)


def _pos_grams_expr(n: int, toks: str = "toks") -> str:
    """POSITIONAL token n-grams (NOT distinct — every occurrence keeps
    its slot so the duplicated fraction is over passage positions).
    Spark sequence(1, 0) descends instead of emitting empty, hence the
    explicit CASE guard for docs shorter than ``n`` tokens."""
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks})-{n}+1),"
        f" i -> array_join(slice({toks}, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def _pos_grams_sql(n: int, toks: str = "toks") -> str:
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks})-{n}+1),"
        f" i -> array_to_string({toks}[i:i+{n}-1], ' ')) "
        f"ELSE []::VARCHAR[] END"
    )


def duplicated_passages(docs: DataFrame, n: int = PASSAGE_N) -> DataFrame:
    """(doc_id, total_ngrams, dup_ngrams, dup_fraction): per document,
    the fraction of positional word ``n``-grams that also occur in at
    least one OTHER document — the passage/substring-level dedup
    signal (cross-document boilerplate and copied spans; the
    train-data-dedup rule published as "deduplicating training data
    makes language models better", re-expressed corpus-relational
    instead of suffix-array).

    Scale shape: explode positional grams (narrow codegen projection,
    pre-repartitioned against AQE 1-partition coalesce) -> ONE
    (doc_id, gram) count aggregation with map-side combine -> a
    gram-keyed min!=max doc aggregation flags cross-document grams (no
    countDistinct) -> gram-keyed join back -> per-doc sum.  Two
    uniform-key shuffles, no all-pairs stage; a gram shared by millions
    of pages is one aggregation key, never a pairwise blowup.  Docs
    shorter than ``n`` tokens carry no passage positions and are
    excluded (documented contract, matches the DuckDB twin)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    ex = (
        docs.repartition(par)
        .withColumn("norm", norm_col())
        .withColumn("toks", tokens_col())
        .select(
            "doc_id",
            F.explode(F.expr(_pos_grams_expr(n))).alias("gram"),
        )
    )
    per = ex.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    cross = (
        per.groupBy("gram")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .select("gram", (F.col("lo") != F.col("hi")).alias("is_cross"))
    )
    return (
        per.join(cross, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("total_ngrams"),
            F.sum(F.when(F.col("is_cross"), F.col("cnt")).otherwise(0))
            .alias("dup_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            F.col("dup_ngrams") / F.col("total_ngrams").cast("double"),
        )
        .orderBy("doc_id")
    )


def duplicated_passages_oracle(n: int = PASSAGE_N) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql(norm_sql())} AS toks FROM documents),
ex AS (
  SELECT doc_id, unnest({_pos_grams_sql(n)}) AS gram FROM tok),
per AS MATERIALIZED (
  SELECT doc_id, gram, count(*) AS cnt FROM ex GROUP BY 1, 2),
crossg AS (
  SELECT gram, (min(doc_id) <> max(doc_id)) AS is_cross
  FROM per GROUP BY gram)
SELECT per.doc_id,
  sum(per.cnt)::BIGINT AS total_ngrams,
  sum(CASE WHEN crossg.is_cross THEN per.cnt ELSE 0 END)::BIGINT
    AS dup_ngrams,
  sum(CASE WHEN crossg.is_cross THEN per.cnt ELSE 0 END)
    / sum(per.cnt)::DOUBLE AS dup_fraction
FROM per JOIN crossg USING (gram)
GROUP BY per.doc_id
ORDER BY per.doc_id
"""


def source_dup_rate(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_dup_docs, dup_rate): per-source exact-
    duplication diagnostic — which feeds/sites contribute duplicated
    text (a doc counts as duplicated when its normalized text occurs
    >= 2 times corpus-wide, so cross-source copies charge BOTH
    sources).  Drives per-source crawl/ingest budget decisions.

    Scale shape: one corpus-wide hash count (map-side partials), one
    hash-keyed join back, one source-keyed aggregation — the same
    uniform-key pattern as exact dedup, never pairwise."""
    hashed = docs.select("source", F.md5(norm_col()).alias("text_hash"))
    counts = hashed.groupBy("text_hash").agg(
        F.count("*").alias("n_copies")
    )
    return (
        hashed.join(counts, "text_hash")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_copies") >= 2).cast("bigint")).alias(
                "n_dup_docs"
            ),
        )
        .withColumn(
            "dup_rate",
            F.col("n_dup_docs") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


def source_dup_rate_oracle() -> str:
    return f"""
WITH h AS (
  SELECT source, md5({norm_sql()}) AS text_hash FROM documents),
c AS (
  SELECT text_hash, count(*) AS n_copies FROM h GROUP BY 1)
SELECT h.source,
  count(*)::BIGINT AS n_docs,
  sum(CASE WHEN c.n_copies >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
  sum(CASE WHEN c.n_copies >= 2 THEN 1 ELSE 0 END)
    / count(*)::DOUBLE AS dup_rate
FROM h JOIN c USING (text_hash)
GROUP BY h.source
ORDER BY h.source
"""


# ------------------------------------------------------------------ #
# Sparse count-vector cosine via a df-pruned inverted index
# ------------------------------------------------------------------ #

SPARSE_MIN_DF = 2    # a term seen in one doc can't create a pair
SPARSE_MAX_DF = 50   # boilerplate guard: ubiquitous terms are pruned


def _word_trigram_expr(toks: str = "t") -> str:
    """Positional word 3-grams as the sparse term space (the token
    granularity that keeps df low on web text; unigrams of a crawl are
    almost all above any useful df cap).  Caller guarantees
    ``size(toks) >= 3`` (shorter docs have no trigram — same as the
    oracle's empty ``generate_series``)."""
    return (
        f"transform(sequence(0, size({toks}) - 3), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, 3)))"
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    min_df: int = SPARSE_MIN_DF,
    max_df: int = SPARSE_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b, dot, cosine): document pairs whose word-trigram
    **count-vector** cosine reaches ``threshold`` — the token-space
    near-dup/similar-doc miner that needs no embeddings (the TF-IDF
    retrieval twin of ``cosine_pairs``).

    Scale shape — the inverted-index join, never an all-pairs stage:

    * postings ``(term, doc_id, tf)`` from ONE explode + hash agg;
    * **df pruning** bounds the join: terms with ``df < min_df`` can't
      form a pair, terms with ``df > max_df`` (boilerplate n-grams
      shared by millions of pages) would each contribute O(df^2)
      candidate rows on one reducer — the same skew guard as
      ``MAX_BUCKET`` in the LSH path, applied one stage earlier;
    * pair dot products are a term-keyed equi-join + one (a,b) hash
      agg: total work is sum(df^2) over *kept* terms — linear in the
      corpus once the cap is fixed, and uniformly keyed;
    * cosine = integer dot / sqrt(integer norm product): two
      correctly-rounded IEEE ops, bit-identical in any engine and any
      partitioning (no float accumulation order anywhere).

    The vector space IS the kept-term space (df in [min_df, max_df]):
    norms are computed over kept terms so pruning is a documented
    semantics choice, not a silent approximation.
    """
    tf = (
        docs.withColumn("norm", norm_col())
        .withColumn("t", tokens_col())
        .filter(F.size("t") >= 3)
        .select("doc_id", F.explode(F.expr(_word_trigram_expr("t"))).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = (
        tf.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("g")
    )
    kept = tf.join(df_tbl, "g")
    # kept feeds BOTH the norm agg and both join sides: persist so the
    # explode + df-prune subtree runs once (the engineering notes multi-consumer rule)
    kept = kept.persist()
    nrm = kept.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nn"))
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(b, "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cosine",
            F.col("dot") / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "dot", "cosine")
        .orderBy("doc_a", "doc_b")
    )


def sparse_cosine_oracle(
    threshold: float = 0.2,
    min_df: int = SPARSE_MIN_DF,
    max_df: int = SPARSE_MAX_DF,
) -> str:
    """DuckDB twin: identical postings/prune/join/agg cascade; cosine
    from the same two correctly-rounded ops."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split({norm_sql('text')}, ' ') AS t
  FROM documents),
tg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
tf AS (
  SELECT doc_id, g, count(*)::BIGINT AS tf FROM tg GROUP BY 1, 2),
kept AS MATERIALIZED (
  SELECT tf.* FROM tf
  JOIN (SELECT g FROM tf GROUP BY g
        HAVING count(*) BETWEEN {min_df} AND {max_df}) d USING (g)),
nrm AS MATERIALIZED (
  SELECT doc_id, sum(tf * tf)::BIGINT AS nn FROM kept GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.tf * b.tf)::BIGINT AS dot
  FROM kept a JOIN kept b USING (g)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, dot,
       dot / sqrt((na.nn * nb.nn)::DOUBLE) AS cosine
FROM dots
JOIN nrm na ON na.doc_id = doc_a
JOIN nrm nb ON nb.doc_id = doc_b
WHERE dot / sqrt((na.nn * nb.nn)::DOUBLE) >= {threshold}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------ #
# Blocking-quality metrics: is the LSH worth trusting?
# ------------------------------------------------------------------ #


def blocking_metrics(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    max_doc_id: int | None = 150,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """One row: how good the MinHash-LSH blocking is versus exhaustive
    ground truth — the record-linkage eval read before trusting a
    blocking scheme at corpus scale (standard metrics: Christen's
    pair completeness / pairs quality / reduction ratio).

    * ``truth_pairs``      exact all-pairs shingle Jaccard >= threshold
    * ``candidate_pairs``  LSH same-band pairs (hot buckets capped)
    * ``pair_completeness``  |cand & truth| / truth   (blocking recall)
    * ``pairs_quality``      |cand & truth| / cand    (blocking precision)
    * ``reduction_ratio``    1 - cand / C(n,2)        (work saved)

    The exact side is quadratic by definition, hence the ``max_doc_id``
    sample slice (the estimates transfer: both sides are computed on
    the same slice).  Counts are exact integers; the three ratios are
    single double divisions — bit-stable cross-engine."""
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    sig = minhash_signatures(docs).persist()
    cand = _band_candidates(sig, max_bucket)
    sh = sig.select("doc_id", "sh")
    a, b = sh.alias("a"), sh.alias("b")
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .filter(
            F.col("inter")
            / (F.size("a.sh") + F.size("b.sh") - F.col("inter")).cast("double")
            >= jaccard_threshold
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    in_c, in_t = F.col("in_a"), F.col("in_b")
    counts = sides(cand, truth, ["doc_a", "doc_b"]).agg(
        F.count(F.when(in_c, 1)).alias("candidate_pairs"),
        F.count(F.when(in_t, 1)).alias("truth_pairs"),
        F.count(F.when(in_c & in_t, 1)).alias("true_candidates"),
    )
    n_docs = sig.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "total_pairs", (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long")
        )
        .select(
            "n_docs",
            "total_pairs",
            "truth_pairs",
            "candidate_pairs",
            "true_candidates",
            F.expr(
                "true_candidates / CAST(nullif(truth_pairs, 0) AS DOUBLE)"
            ).alias("pair_completeness"),
            F.expr(
                "true_candidates / CAST(nullif(candidate_pairs, 0) AS DOUBLE)"
            ).alias("pairs_quality"),
            F.expr(
                "1.0 - candidate_pairs / CAST(nullif(total_pairs, 0) AS DOUBLE)"
            ).alias("reduction_ratio"),
        )
    )


def blocking_metrics_oracle(
    jaccard_threshold: float = 0.5,
    max_doc_id: int | None = 150,
    max_bucket: int = MAX_BUCKET,
) -> str:
    """DuckDB twin of :func:`blocking_metrics` over the same slice."""
    where = f"WHERE doc_id < {max_doc_id}" if max_doc_id is not None else ""
    bucket_filters = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b_} AS band_idx, band_{b_} AS band_hash FROM banded"
        for b_ in range(BANDS)
    )
    return f"""
WITH src AS (SELECT * FROM documents {where}),
{_sig_cte_sql(src='src')},
long AS (
  {bucket_filters}),
ok_buckets AS (
  SELECT band_idx, band_hash FROM long GROUP BY 1, 2
  HAVING count(*) <= {max_bucket}),
capped_ids AS (
  SELECT l.doc_id, l.band_idx, l.band_hash FROM long l
  JOIN ok_buckets USING (band_idx, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped_ids a JOIN capped_ids b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
truth AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id
  WHERE len(list_intersect(sa.sh, sb.sh)) /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE
        >= {jaccard_threshold}),
flagged AS (
  SELECT coalesce(c.doc_a, t.doc_a) AS doc_a,
         coalesce(c.doc_b, t.doc_b) AS doc_b,
         c.doc_a IS NOT NULL AS in_c, t.doc_a IS NOT NULL AS in_t
  FROM cand c FULL OUTER JOIN truth t
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
counts AS (
  SELECT count(*) FILTER (WHERE in_c)::BIGINT AS candidate_pairs,
         count(*) FILTER (WHERE in_t)::BIGINT AS truth_pairs,
         count(*) FILTER (WHERE in_c AND in_t)::BIGINT AS true_candidates
  FROM flagged),
nn AS (SELECT count(*)::BIGINT AS n_docs FROM sig)
SELECT n_docs,
       (n_docs * (n_docs - 1) / 2)::BIGINT AS total_pairs,
       truth_pairs, candidate_pairs, true_candidates,
       true_candidates / CAST(nullif(truth_pairs, 0) AS DOUBLE)
         AS pair_completeness,
       true_candidates / CAST(nullif(candidate_pairs, 0) AS DOUBLE)
         AS pairs_quality,
       1.0 - candidate_pairs / CAST(nullif(total_pairs, 0) AS DOUBLE)
         AS reduction_ratio
FROM counts CROSS JOIN nn
"""


def prefix_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) — EXACT token-set Jaccard join at
    ``threshold`` via PPJoin-style prefix filtering (Xiao et al. 2008,
    public literature): order each document's distinct word tokens by
    ascending global document frequency (rarest first) and index only
    the first ``|d| - ceil(t*|d|) + 1`` of them — any pair with
    Jaccard >= t MUST share a prefix token (pigeonhole), so the
    candidate join touches only rare-token postings and the filter is
    LOSSLESS (unlike [min_df, max_df] pruning in sparse_cosine_pairs,
    which trades recall for the same bound).  A length filter
    (t*|b| <= |a| <= |b|/t) prunes candidates before verification.

    Scale shape: df counts = one token agg; per-doc rarity ranks = one
    doc-keyed window; the candidate shuffle is keyed on PREFIX tokens
    only — the hot stopword postings that detonate a naive token join
    never enter the exchange (a stopword is never rare enough to make
    a prefix).  Verification joins each candidate's full token list —
    O(candidates * doc_len), the PPJoin bound."""
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(norm_col(), " "), lambda t: t != ""
                    )
                )
            ).alias("token"),
        )
        .persist()  # consumers: df counts, ranks, both verify sides
    )
    dfc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    prefix = (
        tok.join(dfc, "token")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(
            F.col("rk")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("doc_id", "token", "sz")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .distinct()
    )
    shared = (
        cands.join(tok.select(F.col("doc_id").alias("da"), "token"), "da")
        .join(
            tok.select(F.col("doc_id").alias("db"), "token"),
            ["db", "token"],
        )
        .groupBy("da", "db", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            (
                F.col("n_shared")
                / (F.col("sza") + F.col("szb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_id_a", "doc_id_b")
    )


def prefix_jaccard_oracle(threshold: float = 0.6, doc_where: str = "") -> str:
    """DuckDB twin: identical df-rank prefix, length filter, and
    verification cascade.  ``doc_where`` optionally scopes the corpus
    (the registered query samples doc_id % 5 = 0: on this
    template-heavy synthetic corpus the TRUE >= 0.6 pair set is ~7M of
    12.5M possible — any exact join is verification-bound there, so
    the oracle-paired query runs the systematic sample while the
    operator itself stays full-corpus capable)."""
    where = f"WHERE {doc_where}" if doc_where else ""
    return f"""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, unnest(string_split({norm_sql()}, ' ')) AS t
        FROM documents {where})
  WHERE t <> ''),
dfc AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
prefix AS MATERIALIZED (
  SELECT doc_id, token, sz FROM (
    SELECT t.doc_id, t.token, s.sz,
      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token)
        AS rk
    FROM tok t JOIN dfc d ON t.token = d.token
    JOIN sizes s ON t.doc_id = s.doc_id)
  WHERE rk <= sz - ceil({threshold} * sz) + 1),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.sz AS sza, b.sz AS szb
  FROM prefix a JOIN prefix b
    ON a.token = b.token AND a.doc_id < b.doc_id
   AND a.sz >= {threshold} * b.sz AND b.sz >= {threshold} * a.sz),
shared AS (
  SELECT c.da, c.db, c.sza, c.szb, count(*) AS n_shared
  FROM cands c
  JOIN tok ta ON ta.doc_id = c.da
  JOIN tok tb ON tb.doc_id = c.db AND tb.token = ta.token
  GROUP BY c.da, c.db, c.sza, c.szb)
SELECT da AS doc_id_a, db AS doc_id_b,
  n_shared / (sza + szb - n_shared) AS jaccard
FROM shared
WHERE n_shared / (sza + szb - n_shared) >= {threshold}
ORDER BY doc_id_a, doc_id_b
"""


def mirror_sources(
    docs: DataFrame, max_sources: int = 64, key_chars: int = 128
) -> DataFrame:
    """(source_a, source_b, n_shared, containment) — mirror/syndication
    detection: pairs of sources sharing LEAD FINGERPRINTS (md5 of the
    first ``key_chars`` normalized chars — the same-lead-paragraph
    heuristic syndicated copies keep even when boilerplate tails
    differ), scored by containment (shared / smaller side's distinct
    leads).  The crawl-curation lift of dedup from doc level to HOST
    level: a pair with containment ~1 is a mirror/feed — drop one
    side's crawl budget, not individual docs.

    Scale shape: one (source, text-hash) distinct projection, one
    hash-keyed self-join restricted to hashes in <= ``max_sources``
    sources (the boilerplate-text skew guard, applied BEFORE the
    shuffle: a footer string present on every host would otherwise
    detonate the pair join), one pair-keyed count + broadcast
    per-source totals."""
    h = docs.select(
        "source",
        F.md5(F.substring(norm_col(), 1, key_chars)).alias("th"),
    ).distinct().persist()  # consumers: guard, pair join sides, totals
    spread = h.groupBy("th").agg(F.count(F.lit(1)).alias("n_src"))
    ok = h.join(
        F.broadcast(spread.filter(F.col("n_src") > max_sources)),
        "th",
        "left_anti",
    )
    a = ok.select(F.col("source").alias("source_a"), "th")
    b = ok.select(F.col("source").alias("source_b"), "th")
    pairs = (
        a.join(b, "th")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = h.groupBy("source").agg(F.count(F.lit(1)).alias("n_texts"))
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_texts").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_texts").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (F.col("n_shared") / F.least("na", "nb")).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


def mirror_sources_oracle(
    max_sources: int = 64, key_chars: int = 128
) -> str:
    """DuckDB twin of :func:`mirror_sources`."""
    return f"""
WITH h AS MATERIALIZED (
  SELECT DISTINCT source, md5(substr({norm_sql()}, 1, {key_chars})) AS th
  FROM documents),
spread AS (SELECT th, count(*) AS n_src FROM h GROUP BY th),
ok AS MATERIALIZED (
  SELECT h.* FROM h JOIN spread USING (th)
  WHERE spread.n_src <= {max_sources}),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_shared
  FROM ok a JOIN ok b ON a.th = b.th AND a.source < b.source
  GROUP BY 1, 2),
sizes AS (SELECT source, count(*) AS n_texts FROM h GROUP BY source)
SELECT p.source_a, p.source_b, p.n_shared,
  p.n_shared / least(sa.n_texts, sb.n_texts) AS containment
FROM pairs p
JOIN sizes sa ON p.source_a = sa.source
JOIN sizes sb ON p.source_b = sb.source
ORDER BY source_a, source_b
"""


# ------------------------------------------------------------------ #
# C4-style keep-first span dedup
# ------------------------------------------------------------------ #

C4_MIN_COUNT = 2      # a span occurring this often corpus-wide is deduped


def c4_span_dedup(docs: DataFrame, min_count: int = C4_MIN_COUNT) -> DataFrame:
    """(doc_id, n_spans, n_kept, clean_md5) — C4-style inter-document
    span dedup at sentence granularity: any normalized span (``'. '``
    split) occurring >= ``min_count`` times corpus-wide keeps ONLY its
    globally-first occurrence (min ``(doc_id, pos)``); every other copy
    is removed.  This differs from :func:`remove_boilerplate_lines`
    exactly the way C4 differs from CCNet: C4 (Raffel et al. 2020,
    §2.2 — "discard all but one of any three-sentence span occurring
    more than once") preserves one copy so no content is lost
    corpus-wide, where the CCNet boilerplate pass drops every copy.
    ``clean_md5`` hashes the position-ordered surviving text — the
    byte-stable per-doc invariant the driver can diff.

    Plan (100 TB story): spans = one ``posexplode`` projection; the
    winner per span key = ONE md5-keyed aggregate whose two measures
    (``min(struct(doc_id, pos))`` and ``count``) are both map-side
    combinable, so the span-key shuffle moves pre-reduced partials;
    kept-marking joins spans back on the SAME key (AQE plans it as a
    co-partitioned sort-merge join — the winner table is |distinct
    spans|, far too big to broadcast at corpus scale, unlike the
    power-law-tiny heavy list in the boilerplate pass); per-doc
    reassembly is one doc_id-keyed aggregate with single-document
    bounded state, and the md5 is a PROJECTION after the aggregate
    (never inside it — ObjectHashAggregate guard)."""
    spans = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\\. ")).alias("pos", "span"),
        )
        .filter(F.trim(F.col("span")) != "")
        .withColumn("key", F.md5(F.lower(F.trim(F.col("span")))))
    )
    winners = spans.groupBy("key").agg(
        F.min(F.struct("doc_id", "pos")).alias("w"),
        F.count(F.lit(1)).alias("cnt"),
    )
    marked = spans.join(winners, "key").withColumn(
        "keep",
        (F.col("cnt") < min_count)
        | (
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("pos") == F.col("w.pos"))
        ),
    )
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.struct("pos", "span")))
        ).alias("arr"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.md5(
                F.coalesce(
                    F.array_join(
                        F.transform(F.col("arr"), lambda s: s["span"]), ". "
                    ),
                    F.lit(""),
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def c4_span_dedup_oracle(min_count: int = C4_MIN_COUNT) -> str:
    return f"""
WITH split AS (
  SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
spans AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS span,
    md5(lower(trim(parts[i]))) AS key
  FROM split, unnest(generate_series(1, len(parts))) AS u(i)
  WHERE trim(parts[i]) <> ''),
marked AS (
  SELECT s.*,
    count(*) OVER (PARTITION BY key) AS cnt,
    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
  FROM spans s),
agg AS (
  SELECT doc_id,
    count(*) AS n_spans,
    count(CASE WHEN cnt < {min_count} OR rn = 1 THEN 1 END) AS n_kept,
    md5(coalesce(string_agg(
      CASE WHEN cnt < {min_count} OR rn = 1 THEN span END,
      '. ' ORDER BY pos), '')) AS clean_md5
  FROM marked GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(a.n_spans, 0) AS n_spans,
  coalesce(a.n_kept, 0) AS n_kept,
  coalesce(a.clean_md5, md5('')) AS clean_md5
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


# ------------------------------------------------------------------ #
# LSH parameter planning (the S-curve bands/rows advisor)
# ------------------------------------------------------------------ #

#: candidate (bands, rows) splits of the signature budget evaluated by
#: lsh_parameter_plan (b * r <= 24, the minhash family's budget here).
LSH_PLAN_GRID = [(24, 1), (12, 2), (8, 3), (6, 4), (4, 6), (3, 8), (2, 12)]


def lsh_parameter_plan(
    spark,
    threshold: float = 0.5,
    grid: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """(bands, rows, p_at_threshold, fp_area, fn_area) — the MinHash-LSH
    design table: for each (b, r) split of the signature budget, the
    S-curve capture probability at the target Jaccard threshold
    ``p(s) = 1 - (1 - s^r)^b`` (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets, public literature), plus the false-positive mass
    (candidates below threshold: Riemann sum of p(s) over s < t) and
    false-negative mass (missed pairs above: sum of 1 - p(s) over
    s >= t) on a 20-point similarity grid.  This is the tuning read
    every LSH deployment does before picking bands x rows — the
    dedup-family twin of ``profiling.join_strategy_advisor`` (measure,
    then choose the plan).

    No argmin/recommended column on purpose: p values come from
    ``power()`` (not correctly rounded across libm implementations), so
    a winner flag could flip on an ulp; the caller orders by the metric
    it cares about.  The grid is driver-literal (7 x 20 rows) — the op
    is a design-table computation, not a data scan."""
    grid = grid if grid is not None else LSH_PLAN_GRID
    br = spark.createDataFrame(grid, "bands int, rows int")
    s = F.col("id").cast("double") / 20.0 + 0.025  # 0.025 .. 0.975
    pts = spark.range(0, 20).select(s.alias("s"))
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("s"), F.col("rows")), F.col("bands")
    )
    p_t = 1.0 - F.pow(
        1.0 - F.pow(F.lit(float(threshold)), F.col("rows")),
        F.col("bands"),
    )
    return (
        br.crossJoin(pts)
        .groupBy("bands", "rows")
        .agg(
            F.min(p_t).alias("p_at_threshold"),
            (F.sum(F.when(F.col("s") < threshold, p).otherwise(0.0)) / 20.0)
            .alias("fp_area"),
            (
                F.sum(
                    F.when(F.col("s") >= threshold, 1.0 - p).otherwise(0.0)
                )
                / 20.0
            ).alias("fn_area"),
        )
        .orderBy("bands", "rows")
    )


def lsh_parameter_plan_oracle(
    threshold: float = 0.5,
    grid: list[tuple[int, int]] | None = None,
) -> str:
    """DuckDB twin: identical grid, identical power() cascade."""
    grid = grid if grid is not None else LSH_PLAN_GRID
    vals = ", ".join(f"({b}, {r})" for b, r in grid)
    return f"""
WITH br(bands, rows) AS (VALUES {vals}),
pts AS (
  SELECT i / 20.0 + 0.025 AS s
  FROM (SELECT unnest(generate_series(0, 19))::DOUBLE AS i)),
g AS (
  SELECT bands, rows, s,
    1.0 - power(1.0 - power(s, rows), bands) AS p,
    1.0 - power(1.0 - power({threshold}, rows), bands) AS p_t
  FROM br CROSS JOIN pts)
SELECT bands, rows, min(p_t) AS p_at_threshold,
  sum(CASE WHEN s < {threshold} THEN p ELSE 0.0 END) / 20.0 AS fp_area,
  sum(CASE WHEN s >= {threshold} THEN 1.0 - p ELSE 0.0 END) / 20.0
    AS fn_area
FROM g GROUP BY bands, rows
ORDER BY bands, rows
"""


# --------------------------------------------------------------------- #
# multi-pass sorted-neighborhood blocking
# --------------------------------------------------------------------- #


def sorted_neighborhood_pairs(
    records: DataFrame,
    passes: dict[str, "F.Column"],
    id_col: str = "rec_id",
    bucket_len: int = 4,
    window: int = 3,
) -> DataFrame:
    """(pass, id_a, id_b) — candidate pairs from multi-pass
    sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995,
    public literature): per pass, records sort by a derived key and
    every pair within ``window`` sort ranks becomes a candidate — the
    sort-order complement of hash blocking (MinHash/SimHash buckets
    need near-identical content; SN catches near-identical KEYS:
    typos, serial ids, prefix families).

    ``passes`` maps a pass name to its key expression; multiple passes
    with different keys are THE standard recall fix for sort-boundary
    misses, and the same union-of-passes shape here also repairs
    bucket-boundary misses of the distributed variant below.

    Distribution: a GLOBAL sort rank would serialize on one partition,
    so ranks are computed per ``bucket = substr(key, 1, bucket_len)``
    — buckets are the range partition, the window function's
    partitionBy key, and the self-join key, so the only shuffle is
    bucket-hash and per-bucket state is bounded by the key prefix's
    selectivity (pairs straddling a bucket boundary are missed by that
    pass — the documented multi-pass tradeoff).  The rank self-join's
    fan-out is <= window - 1 per row by the rank-distance predicate.
    Pairs are deduplicated across passes by construction of the output
    key (pass kept — which pass fired is the review signal)."""
    out = None
    for name, key in passes.items():
        keyed = records.select(
            F.col(id_col).alias("rid"), key.cast("string").alias("k")
        ).withColumn("bucket", F.substring("k", 1, bucket_len))
        w = Window.partitionBy("bucket").orderBy("k", "rid")
        ranked = keyed.withColumn("r", F.row_number().over(w))
        a, b = ranked.alias("a"), ranked.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("b.r") - F.col("a.r") > 0)
                & (F.col("b.r") - F.col("a.r") < window),
            )
            .select(
                F.lit(name).alias("pass"),
                F.col("a.rid").alias("id_a"),
                F.col("b.rid").alias("id_b"),
            )
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct().orderBy("pass", "id_a", "id_b")


def sorted_neighborhood_sql(
    records_cte: str,
    passes: dict[str, str],
    id_col: str = "rec_id",
    bucket_len: int = 4,
    window: int = 3,
) -> str:
    """DuckDB twin; ``records_cte`` must define ``records(...)`` with
    ``id_col`` and whatever columns the pass key SQL expressions read."""
    branches = []
    for name, key_sql in passes.items():
        branches.append(f"""
  SELECT '{name}' AS pass, a.rid AS id_a, b.rid AS id_b
  FROM rk_{name} a JOIN rk_{name} b
    ON a.bucket = b.bucket AND b.r - a.r > 0 AND b.r - a.r < {window}""")
    ctes = []
    for name, key_sql in passes.items():
        ctes.append(f"""rk_{name} AS MATERIALIZED (
  SELECT rid, k, bucket, row_number() OVER (PARTITION BY bucket ORDER BY k, rid) AS r
  FROM (SELECT {id_col} AS rid, ({key_sql})::VARCHAR AS k,
               substr(({key_sql})::VARCHAR, 1, {bucket_len}) AS bucket
        FROM records))""")
    union = "\n  UNION ALL".join(branches)
    ctes_joined = ",\n".join(ctes)
    return f"""
WITH {records_cte.strip()},
{ctes_joined}
SELECT DISTINCT pass, id_a, id_b FROM ({union})
ORDER BY pass, id_a, id_b
"""


# ------------------------------------------------------------------ #
# B-cubed clustering evaluation (Bagga & Baldwin 1998, public
# literature — the standard entity-resolution / coreference cluster
# metric).  Pairwise P/R (blocking_metrics) over-weights big clusters
# quadratically; B-cubed averages per-ITEM precision/recall, the
# grading a dedup or linking cluster map should actually be judged by.
# ------------------------------------------------------------------ #


def bcubed_eval(
    ids: DataFrame, pred: DataFrame, truth: DataFrame
) -> DataFrame:
    """One row (n_items, bcubed_precision, bcubed_recall, bcubed_f1).

    ``ids`` is the item universe (``doc_id``); ``pred`` / ``truth``
    are (doc_id, cluster) maps that may be PARTIAL — items missing
    from a map are singletons (their own cluster), so cluster maps
    that only materialize dup-involved docs (``dedup_clusters``)
    evaluate correctly without densifying to the corpus.

    B-cubed identity used: with I(p,t) = |pred-cluster p ∩ truth-
    cluster t|,  precision = Σ I²/|p| / N  and  recall = Σ I²/|t| / N
    — so the whole metric is two keyed integer aggregates plus a
    1-row rollup; no per-item-pair work, map-side partials
    throughout."""
    def densify(m: DataFrame, out: str) -> DataFrame:
        return ids.join(m, "doc_id", "left").select(
            "doc_id",
            F.coalesce(
                F.col("cluster"), F.concat(F.lit("s:"), F.col("doc_id"))
            ).alias(out),
        )

    x = densify(pred, "pc").join(densify(truth, "tc"), "doc_id")
    inter = x.groupBy("pc", "tc").agg(F.count("*").alias("i"))
    psz = x.groupBy("pc").agg(F.count("*").alias("ps"))
    tsz = x.groupBy("tc").agg(F.count("*").alias("ts"))
    n = x.agg(F.count("*").alias("n_items"))
    pre = (
        inter.join(psz, "pc")
        .agg(F.sum(F.col("i") * F.col("i") / F.col("ps")).alias("sp"))
    )
    rec = (
        inter.join(tsz, "tc")
        .agg(F.sum(F.col("i") * F.col("i") / F.col("ts")).alias("sr"))
    )
    return (
        n.crossJoin(pre)
        .crossJoin(rec)
        .select(
            "n_items",
            (F.col("sp") / F.col("n_items")).alias("bcubed_precision"),
            (F.col("sr") / F.col("n_items")).alias("bcubed_recall"),
            (
                2.0
                * (F.col("sp") / F.col("n_items"))
                * (F.col("sr") / F.col("n_items"))
                / (F.col("sp") / F.col("n_items") + F.col("sr") / F.col("n_items"))
            ).alias("bcubed_f1"),
        )
    )


def bcubed_eval_sql(
    ids: str = "ids", pred: str = "pred", truth: str = "truth"
) -> str:
    """DuckDB twin TAIL — compose after CTEs defining ``ids(doc_id)``,
    ``pred(doc_id, cluster)``, ``truth(doc_id, cluster)``."""
    return f"""
xa AS (
  SELECT i.doc_id,
    coalesce(p.cluster, 's:' || CAST(i.doc_id AS VARCHAR)) AS pc,
    coalesce(t.cluster, 's:' || CAST(i.doc_id AS VARCHAR)) AS tc
  FROM {ids} i
  LEFT JOIN {pred} p ON i.doc_id = p.doc_id
  LEFT JOIN {truth} t ON i.doc_id = t.doc_id),
inter AS (SELECT pc, tc, count(*)::BIGINT AS i FROM xa GROUP BY 1, 2),
psz AS (SELECT pc, count(*)::BIGINT AS ps FROM xa GROUP BY 1),
tsz AS (SELECT tc, count(*)::BIGINT AS ts FROM xa GROUP BY 1),
nn AS (SELECT count(*)::BIGINT AS n_items FROM xa),
pre AS (SELECT sum(i.i * i.i / psz.ps::DOUBLE) AS sp
        FROM inter i JOIN psz USING (pc)),
rec AS (SELECT sum(i.i * i.i / tsz.ts::DOUBLE) AS sr
        FROM inter i JOIN tsz USING (tc))
SELECT nn.n_items,
  pre.sp / nn.n_items AS bcubed_precision,
  rec.sr / nn.n_items AS bcubed_recall,
  2.0 * (pre.sp / nn.n_items) * (rec.sr / nn.n_items)
    / (pre.sp / nn.n_items + rec.sr / nn.n_items) AS bcubed_f1
FROM nn CROSS JOIN pre CROSS JOIN rec"""


# ------------------------------------------------------------------ #
# ExactSubstr duplicated-span detection (Lee et al. 2022)
# ------------------------------------------------------------------ #


def exact_substr_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, n_spans, dup_tokens, longest_span) — the suffix-array
    ExactSubstr dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022, public literature), re-expressed
    as the k-gram-seeded Spark variant: a substring duplicated
    anywhere in the corpus and spanning >= k tokens contains a
    duplicated token k-gram at every offset, so the duplicated-k-gram
    positions of a document, merged wherever their k-windows overlap
    (gap <= k), are exactly the maximal duplicated spans >= k tokens.

    Scale shape (the suffix array is the single-node tool; this is the
    distributed equivalent):

    * k-gram hashes are one codegen md5 projection over an exploded
      window slice — the corpus text itself is never shuffled, only
      ``(gram_md5, doc_id, pos)``;
    * the global duplicate-gram set is a map-side-combinable
      count>1 aggregation, re-joined by semi-join (Bloom-prunable);
    * span merging is a per-document window (gaps-and-islands on
      position with gap threshold k) — key-partitioned by doc_id,
      never global.

    Distinct from ``c4_span_dedup`` (fixed sentence spans) and
    ``passage_dup`` (fixed-length passages): spans here are MAXIMAL
    and cross arbitrary boundaries, the property that made ExactSubstr
    the standard memorization-removal pass."""
    sc = docs.sparkSession.sparkContext
    toks = (
        docs.select("doc_id", norm_col().alias("norm"))
        .repartition(sc.defaultParallelism)  # HOF projection is CPU-heavy
        .select("doc_id", tokens_col("norm").alias("toks"))
    )
    grams = (
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {k}), "
                    f"(x, i) -> array_join(slice(toks, i + 1, {k}), ' '))"
                )
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", F.md5("gram").alias("g"))
        .persist()  # consumed by the count agg AND the semi-join
    )
    dup = grams.groupBy("g").count().filter(F.col("count") > 1).select("g")
    hits = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn("lp", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("lp").isNull() | (F.col("pos") - F.col("lp") > k), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("span_toks"))
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_toks").alias("dup_tokens"),
            F.max("span_toks").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


def exact_substr_oracle(k: int = 8) -> str:
    """DuckDB twin: identical k-gram seeding + gaps-and-islands merge
    in native window SQL over the shared normalization."""
    return f"""
WITH t AS (
  SELECT doc_id, {tokens_sql(norm_sql())} AS toks FROM documents),
pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - {k})) AS pos
  FROM t WHERE len(toks) >= {k}),
gr AS (
  SELECT doc_id, pos,
         md5(array_to_string(toks[pos + 1 : pos + {k}], ' ')) AS g
  FROM pos),
dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 1),
hits AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
isl AS (
  SELECT doc_id, pos,
    sum(CASE WHEN lp IS NULL OR pos - lp > {k} THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
        FROM hits)),
spans AS (
  SELECT doc_id, island, max(pos) - min(pos) + {k} AS span_toks
  FROM isl GROUP BY doc_id, island)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(span_toks)::BIGINT AS dup_tokens,
       max(span_toks)::BIGINT AS longest_span
FROM spans GROUP BY doc_id ORDER BY doc_id
"""
