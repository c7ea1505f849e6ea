"""Scale-shape assertions (VERDICT r1 findings #1/#2/#5): the blocked
simhash and sqrt(n)-centroid IVF paths must (a) reproduce the exact
all-pairs results at sample scale and (b) compile to bucketed equi-join
plans with no corpus x corpus cartesian stage."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from orionbelt_ontology_builder_spark.datapipe import dedup, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _engine_default_conf(spark):
    """Plan-shape assertions assume the engine defaults.  The driver's
    ``_tiny`` query wrapper (exercised by test_oracle_parity in the
    same session-scoped SparkSession) pins AQE off + 2 shuffle
    partitions for fixture legs; without this reset, whichever wrapper
    ran last decides whether runtime stats can convert a small-side
    SortMergeJoin to broadcast here (order-dependent flake, seen on
    test_unroll_lists_broadcast_guard_both_modes)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls softly on the quiet green meadow near the old stone bridge"
    )
    rows = [
        Row(doc_id=0, text=base, lang="en", source="s", n_chars=1),
        Row(doc_id=1, text=base.upper() + "!!", lang="en", source="s", n_chars=1),
        Row(doc_id=2, text=base.replace("lazy", "sleepy"), lang="en", source="s", n_chars=1),
        Row(doc_id=3, text="unrelated text about catalyst plans and shuffles here",
            lang="en", source="s", n_chars=1),
        Row(doc_id=4, text=base.replace("fox", "cat"), lang="en", source="s", n_chars=1),
    ]
    return spark.createDataFrame(rows).cache()


@pytest.fixture(scope="module")
def embs(spark):
    rows = []
    for cid in range(3):
        base = [1.0 if i == cid else 0.0 for i in range(8)]
        for j in range(4):
            vec = [v + 0.01 * j * ((i % 3) - 1) for i, v in enumerate(base)]
            rows.append(Row(vec_id=cid + 3 * j, embedding=vec, label=cid))
    return spark.createDataFrame(rows).cache()


# ------------------------------------------------------------------ #
# blocked simhash == all-pairs (pigeonhole exactness)
# ------------------------------------------------------------------ #


def _all_pairs_simhash(docs, max_hamming, bits):
    s = dedup.simhash(docs, bits)
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )


@pytest.mark.parametrize("max_hamming", [0, 3, 6])
def test_blocked_simhash_equals_all_pairs(docs, max_hamming):
    got = sorted(map(tuple, dedup.simhash_pairs(docs, max_hamming).collect()))
    ref = sorted(map(tuple, _all_pairs_simhash(docs, max_hamming, dedup.SIMHASH_BITS).collect()))
    assert got == ref


def test_blocked_simhash_plan_has_no_cartesian(docs):
    plan = _plan(dedup.simhash_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------------------ #
# IVF pairs: sqrt(n) centroids, multi-probe, equi-join plan
# ------------------------------------------------------------------ #


def test_ivf_pairs_no_cartesian_between_corpus_relations(embs):
    # the only nested-loop allowed is the broadcast of the (tiny)
    # centroid table; the corpus-vs-corpus pair stage must be an
    # equi-join on centroid_id
    plan = _plan(similarity.ivf_cosine_pairs(embs))
    assert "CartesianProduct" not in plan


def test_ivf_pairs_multiprobe_full_recall_with_kmeans_centroids(embs):
    """With refined (k-means) centroids spanning the planted clusters,
    multi-probe IVF recovers every pair the exact all-pairs scan finds.
    (The fixture is adversarial for the strided default: vec_id % 3 ==
    cluster, so the stride-3 seeds all land in one cluster — exactly the
    case k-means refinement exists for.)"""
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_pairs(embs, threshold=0.99).collect()
    }
    cents = similarity.kmeans_centroids(embs, n_centroids=3, iters=2)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.ivf_cosine_pairs(
            embs, threshold=0.99, centroids=cents
        ).collect()
    }
    assert want, "fixture must plant near-dup pairs"
    assert got == want


def test_ivf_pairs_default_is_exact_subset(embs):
    """Default (strided) centroids: every reported pair is a true pair
    (verification is exact) even when recall dips."""
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_pairs(embs, threshold=0.99).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.ivf_cosine_pairs(embs, threshold=0.99).collect()
    }
    assert got and got <= want


def test_centroid_count_scales_with_sqrt_n():
    assert similarity.n_centroids_for(100) == 10
    assert similarity.n_centroids_for(1_000_000) == 1000
    assert similarity.n_centroids_for(4) == 4  # floor


def test_strided_centroids_deterministic(embs):
    a = similarity.strided_centroids(embs, 3).collect()
    b = similarity.strided_centroids(embs, 3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 3


# ------------------------------------------------------------------ #
# sampled k-means (production seeding; pytest-verified, not oracle-paired)
# ------------------------------------------------------------------ #


def test_kmeans_centroids_shape_and_determinism(embs):
    c1 = similarity.kmeans_centroids(embs, n_centroids=3, iters=2)
    rows1 = sorted(map(tuple, c1.select("centroid_id").collect()))
    assert rows1 == [(0,), (1,), (2,)]
    c2 = similarity.kmeans_centroids(embs, n_centroids=3, iters=2)
    a = {r["centroid_id"]: list(r["c_emb"]) for r in c1.collect()}
    b = {r["centroid_id"]: list(r["c_emb"]) for r in c2.collect()}
    assert a == b


def test_kmeans_centroids_recover_planted_clusters(embs):
    # after Lloyd refinement each centroid should sit inside one planted
    # cluster: its argmax coordinate among the first 3 dims is unique
    cents = similarity.kmeans_centroids(embs, n_centroids=3, iters=2).collect()
    tops = sorted(
        max(range(3), key=lambda i: r["c_emb"][i]) for r in cents
    )
    assert tops == [0, 1, 2]


def test_ivf_topk_with_kmeans_centroids_matches_brute(embs):
    cents = similarity.kmeans_centroids(embs, n_centroids=3, iters=2)
    brute = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.brute_topk(embs, n_queries=3, k=3).collect()}
    ivf = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in similarity.ivf_topk(
               embs, n_queries=3, k=3, nprobe=1, centroids=cents).collect()}
    assert ivf == brute


# ------------------------------------------------------------------ #
# linking candidate path: aggregate-based skew guard, no window buffer
# ------------------------------------------------------------------ #


def _linking_candidates(request):
    from orionbelt_ontology_builder_spark.pipeline import linking as L

    spark = request.getfixturevalue("spark")
    mentions = spark.createDataFrame(
        [Row(mention=f"entity alpha {i}") for i in range(30)]
        + [Row(mention="entity alpha 7 ")]  # one near-dup alias
    )
    return L.lsh_candidate_pairs(L.mention_signatures(mentions))


def _dedup_pairs(request):
    return dedup.minhash_band_pairs(request.getfixturevalue("docs"))


def _srp_pairs(request):
    return similarity.srp_lsh_pairs(
        request.getfixturevalue("embs"), dim=8, n_bits=4, n_tables=2
    )


@pytest.mark.parametrize(
    "build",
    [_linking_candidates, _dedup_pairs, _srp_pairs],
    ids=["linking", "dedup_minhash", "srp"],
)
def test_linking_candidates_plan_window_free(request, build):
    """Every caller of the capped-bucket LSH self-join
    (``linking.bucket_pairs``) keeps its shape.  The bucket-cap guard
    must be the aggregate + broadcast anti-join: a Window count
    partitioned by (band, bucket) would buffer every row of a
    degenerate bucket in one partition's memory before filtering (the
    OOM/straggler the cap exists to prevent).  No corpus x corpus
    cartesian stage either."""
    import re

    plan = _plan(build(request))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the guard's anti-join is present
    assert "LeftAnti" in plan
    # multi-band dedup rides the m1 repartition: an exchange keyed on m1
    # alone, none keyed on the pair's second column m2 (the old
    # distinct-then-repartition double shuffle); HashPartitioning(m1)
    # satisfies the dedup's clustering
    keys = [
        re.sub(r"#\d+L?", "", e).split(", ")[:-1]
        for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    ]
    assert ["m1"] in keys, keys
    assert not any("m2" in k for k in keys), keys


def test_signature_plan_codegen_agg(spark):
    """The minhash must be a whole-stage-codegen hash aggregation over
    exploded shingles — NOT per-array higher-order transforms (those are
    CodegenFallback: interpreted per element) and NOT an
    ObjectHashAggregate (collect_set-style, also interpreted)."""
    from pyspark.sql import Row

    from orionbelt_ontology_builder_spark.pipeline import linking as L

    mentions = spark.createDataFrame(
        [Row(mention=f"entity beta {i}") for i in range(10)]
    )
    plan = _plan(L.mention_signatures(mentions))
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" in plan
    assert "xxhash64" in plan


# ------------------------------------------------------------------ #
# unrolled dot product: bit-identical to the fold, stays in codegen
# ------------------------------------------------------------------ #


def test_dot_expr_unrolled_bit_identical_to_fold(embs):
    diff = (
        embs.select(
            (
                F.expr(dedup.dot_expr("embedding", "embedding"))
                - F.expr(dedup.dot_expr("embedding", "embedding", dim=8))
            ).alias("d")
        )
        .agg(F.sum(F.abs(F.col("d"))).alias("s"))
        .collect()[0]["s"]
    )
    assert diff == 0.0


def test_dot_expr_unrolled_keeps_whole_stage_codegen(embs):
    # the higher-order fold is CodegenFallback and knocks the projection
    # out of whole-stage codegen; the unrolled form must not
    unrolled = embs.select(
        F.expr(dedup.dot_expr("embedding", "embedding", dim=8)).alias("dot")
    )
    plan = _plan(unrolled)
    assert "aggregate(zip_with" not in plan
    assert "*(" in plan  # WholeStageCodegen marker on the projection


def test_brute_topk_dim_matches_dimless(embs):
    a = sorted(map(tuple, similarity.brute_topk(embs, 3, 3).collect()))
    b = sorted(map(tuple, similarity.brute_topk(embs, 3, 3, dim=8).collect()))
    assert a == b


def test_ivf_pairs_dim_matches_dimless(embs):
    a = sorted(map(tuple, similarity.ivf_cosine_pairs(embs).collect()))
    b = sorted(map(tuple, similarity.ivf_cosine_pairs(embs, dim=8).collect()))
    assert a == b


def test_textstats_per_doc_ops_shuffle_free(docs):
    """Every per-document textstats projection (token counts, BPE counts,
    quality, repetition, fingerprints, PII scrub) must compile without an
    Exchange before the final presentation sort — they are narrow maps
    that scale linearly with input splits."""
    from orionbelt_ontology_builder_spark.datapipe import textstats

    import re

    for op in (
        textstats.token_counts,
        textstats.bpe_token_counts,
        textstats.quality_scores,
        textstats.repetition_stats,
        textstats.fingerprints,
        textstats.pii_scrub,
    ):
        plan = _plan(op(docs))
        # the operators end in an orderBy for deterministic driver-oracle
        # comparison; its global sort is the only exchange allowed
        # (rangepartitioning), and nothing may hash-shuffle the rows
        exch = re.findall(r"Exchange (\w+)", plan)
        non_range = [e for e in exch if not e.startswith("range")]
        assert not non_range, (op.__name__, exch, plan)


# ------------------------------------------------------------------ #
# curation ops compile to the intended scale shapes
# ------------------------------------------------------------------ #


def test_decontaminate_probe_is_broadcast_join(spark, docs):
    """The gram probe must be a broadcast hash join (benchmark side is
    tiny vs the corpus) — never a sort-merge join shuffling corpus
    grams, and never a cartesian."""
    from orionbelt_ontology_builder_spark.datapipe import curation as C

    out = C.decontaminate(docs, docs.filter(F.col("doc_id") == 0))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the broadcast probe is the ONLY join — hit counting happens in
    # the same per-doc aggregation, so no corpus-wide join-back exists
    assert "SortMergeJoin" not in plan
    assert plan.count("Join") == plan.count("BroadcastHashJoin") == 1


def test_pack_sequences_single_window_exchange(spark, docs):
    """Packing = one shuffle (by shard) + one per-stream sort feeding
    the cumsum window; no joins at all."""
    from orionbelt_ontology_builder_spark.datapipe import curation as C

    out = C.pack_sequences(docs, capacity=10, shards=2)
    plan = _plan(out)
    assert "Join" not in plan
    assert plan.count("Window") >= 1
    # exactly one hash exchange for the window (the trailing orderBy
    # adds a range exchange for presentation only)
    assert plan.count("hashpartitioning") == 1


def test_quality_funnel_is_single_aggregate_pass(spark, docs):
    """The funnel must be one projection + one global aggregate —
    no per-rule jobs, no joins, no window."""
    from orionbelt_ontology_builder_spark.datapipe import curation as C

    out = C.quality_funnel(docs)
    plan = _plan(out)
    assert "Join" not in plan
    assert "Window" not in plan
    # exactly one partial + one final HashAggregate pair, one
    # single-partition exchange between them (the funnel row)
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange SinglePartition") == 1


def test_zipf_topk_plan_is_take_ordered(spark):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    k + driver merge), never a whole-vocabulary single-partition window
    sort."""
    from pyspark.sql import Row

    from orionbelt_ontology_builder_spark.datapipe import textstats as TS

    d = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e", lang="en", source="s", n_chars=9)
         for i in range(4)]
    )
    plan = (
        TS.zipf_topk(d, k=3)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_temporal_ops_shuffle_counts(spark):
    """The one-shuffle claims in temporal.py, held as plan assertions:
    asof (sans tiebreak dedup) and latest_snapshot partition once on the
    key; session_stats' two windows AND its rollup share ONE exchange
    (the groupBy keys extend the window partition keys)."""
    from datetime import datetime

    from orionbelt_ontology_builder_spark.operators import temporal as T

    T0 = datetime(2024, 1, 1)
    q = spark.createDataFrame([("a", T0, 1.0)], "key string, ts timestamp, px double")
    t = spark.createDataFrame([("a", T0, 100)], "key string, ts timestamp, qty int")

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert exchanges(T.asof_join(t, q, on="key")) == 1
    ev = spark.createDataFrame(
        [("u", T0, 1), ("u", T0, 2)], "user_id string, ts timestamp, event_id int"
    )
    assert exchanges(T.session_stats(ev, tiebreak="event_id")) == 1
    assert exchanges(T.latest_snapshot(ev, "user_id", tiebreak="event_id")) == 1


def test_line_dedup_plan_broadcast_anti_no_window(spark):
    """Boilerplate removal must gate heavy lines via broadcast
    anti-join (the heavy list is tiny by the power law), never a
    Window count over the line key, and must not shuffle the line
    table to generate pairs."""
    from orionbelt_ontology_builder_spark.datapipe import dedup

    out = dedup.remove_boilerplate_lines(dedup.boilerplate_fixture_df(spark))
    plan = _plan(out)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_term_pmi_plan_pair_generation_shuffle_free(spark):
    """PMI pair generation happens inside the projection (nested
    transform over the sorted term array) — the plan must carry NO
    exchange keyed on doc_id (a self-join formulation would) and no
    cartesian shapes."""
    import re

    from orionbelt_ontology_builder_spark.datapipe import textstats

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma t{i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(textstats.term_pmi_pairs(docs, k=5))
    assert "CartesianProduct" not in plan
    # (a BroadcastNestedLoopJoin IS present: the 1-row n_docs scalar
    # cross-joined broadcast — the sanctioned scalar pattern, same as
    # pagerank's dangling mass. What must NOT appear is any exchange
    # keyed on doc_id: that would mean pairs were made by a self-join.)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    assert not any("doc_id" in e for e in exchanges), exchanges


# ------------------------------------------------------------------ #
# r2 session-5 ops: kcore / hits / vocab_drift / degree-ordered triangles
# ------------------------------------------------------------------ #


def test_kcore_plan_no_cartesian_no_window(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    from orionbelt_ontology_builder_spark.operators import graphstats as G

    plan = _plan(G.kcore(edges, k=2, rounds=3))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_hits_only_broadcast_nlj_is_one_row_normalizer(spark):
    # the 1-row normalizer crossJoin is the ONLY BroadcastNestedLoopJoin
    # allowed; the score joins themselves must be equi-joins
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    from orionbelt_ontology_builder_spark.operators import graphstats as G

    plan = _plan(G.hits(edges, iters=1))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_vocab_drift_plan_take_ordered_single_agg_shuffle(spark, docs):
    from orionbelt_ontology_builder_spark.datapipe import textstats as TS

    plan = _plan(TS.vocab_drift(docs, k=5))
    # top-k must plan as TakeOrderedAndProject, not a global-sort window
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # the vocabulary counts feed both the scores and the totals through
    # ONE persisted aggregation — both branches read the cache instead
    # of re-running the token explode + term shuffle
    assert "InMemoryTableScan" in plan


def test_degree_ordered_triangles_no_cartesian(spark):
    edges = spark.createDataFrame(
        [("h", f"s{i}") for i in range(5)] + [("s0", "s1")],
        "src string, dst string",
    )
    from orionbelt_ontology_builder_spark.operators import graphstats as G

    plan = _plan(G.triangle_count(edges, degree_ordered=True))
    assert "CartesianProduct" not in plan


def test_sq8_quantization_error_bound_and_zero_guard(spark):
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.datapipe import similarity

    rows = [
        Row(vec_id=0, embedding=[1.0, -0.5, 0.25, 127.0], label=0),
        Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0], label=0),  # zero vec
        Row(vec_id=2, embedding=[-2.0, 2.0, 1.0, -1.0], label=0),
    ]
    out = {r["vec_id"]: r for r in similarity.sq8_stats(
        spark.createDataFrame(rows)).collect()}
    # per-element error of round-to-nearest is <= scale/2
    for v in (0, 2):
        assert out[v]["max_abs_err"] <= out[v]["scale"] / 2 + 1e-12
        assert out[v]["mse"] <= (out[v]["scale"] / 2) ** 2 + 1e-12
    # zero vector: scale 0, perfect reconstruction, no NaN/inf
    assert out[1]["scale"] == 0.0
    assert out[1]["mse"] == 0.0 and out[1]["max_abs_err"] == 0.0
    # plan stays a pure projection: no exchange besides the final sort
    plan = _plan(similarity.sq8_stats(spark.createDataFrame(rows)))
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_label_centroids_dispersion_identity(spark):
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.datapipe import similarity

    # label 0: two opposite unit vectors -> centroid 0, dispersion 1
    # label 1: two identical vectors -> centroid = the vector, dispersion 0
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[-1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.0, 2.0], label=1),
        Row(vec_id=3, embedding=[0.0, 2.0], label=1),
    ]
    out = {r["label"]: r for r in similarity.label_centroids(
        spark.createDataFrame(rows)).collect()}
    assert out[0]["n_vecs"] == 2
    assert abs(out[0]["centroid_norm"]) < 1e-12
    assert abs(out[0]["avg_dist2"] - 1.0) < 1e-12
    assert abs(out[1]["centroid_norm"] - 2.0) < 1e-12
    assert abs(out[1]["avg_dist2"]) < 1e-12


# ------------------------------------------------------------------ #
# r2 session-6 ops: plan-shape guards
# ------------------------------------------------------------------ #


def test_latest_wins_single_agg_no_window(spark):
    """LWW must be one two-phase agg: no window function, no
    sort-merge join, no cartesian in the plan."""
    import datetime as dt
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.operators import setops as S

    quads = spark.createDataFrame(
        [Row(subj=f"s{i}", pred="p", obj=f"v{i}", source="x",
             ts=dt.datetime(2024, 1, 1)) for i in range(10)]
    )
    p = _plan(S.latest_wins(quads))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_membership_fold_hash_exchanges(spark):
    """The ``setops.sides`` fold is one hash exchange: diff_summary
    plans only that one, triple_churn that one (the triple key) and
    then its per-predicate rollup on ``pred``."""
    from orionbelt_ontology_builder_spark.model import TRIPLES_SCHEMA
    from orionbelt_ontology_builder_spark.operators import setops as S

    g = spark.createDataFrame([("s", "p", "o", "uri", None, None)], TRIPLES_SCHEMA)

    def hashed(df):
        return [
            ln.strip() for ln in _plan(df).splitlines()
            if "Exchange hashpartitioning" in ln
        ]

    assert len(hashed(S.diff_summary(g, g))) == 1
    churn = hashed(S.triple_churn(g, g))  # plan text lists the root first
    assert len(churn) == 2, churn
    assert "hashpartitioning(subj#" in churn[1], churn
    assert "hashpartitioning(pred#" in churn[0], churn


def test_node_flag_fold_hash_exchanges(spark):
    """``validation._node_flags`` is one hash exchange (the per-node
    ``groupBy`` with its map-side partial aggregate), whatever the
    number of presence rules; ``validate`` on ``validation_om`` plans
    19."""
    from orionbelt_ontology_builder_spark.fixtures import fixture_triples
    from orionbelt_ontology_builder_spark.operators import validation as V

    g = fixture_triples(spark, "validation_om")

    def hashed(df):
        return [
            ln for ln in _plan(df).splitlines()
            if "Exchange hashpartitioning" in ln
        ]

    assert len(hashed(V._node_flags(g))) == 1
    assert len(hashed(V.validate(g))) == 19


def test_mention_contexts_broadcast_term_filter(spark):
    """The dictionary filter must be a broadcast join with no hash
    shuffle of the token stream (only the final sort exchanges)."""
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.datapipe import textstats as TS

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha target beta") for i in range(20)]
    )
    p = _plan(TS.mention_contexts(docs, ["target"], window=2))
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_bgp_match_no_cartesian_on_connected_patterns(spark):
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.operators import query

    t = spark.createDataFrame(
        [Row(subj=f"s{i}", pred="type", obj="C", obj_kind="uri")
         for i in range(10)]
        + [Row(subj=f"s{i}", pred="knows", obj=f"s{i+1}", obj_kind="uri")
           for i in range(9)]
    )
    p = _plan(query.match_bgp(
        t, [("?x", "type", "C"), ("?x", "knows", "?y")]))
    assert "CartesianProduct" not in p


def test_negative_samples_no_global_single_partition_window(spark):
    """The dense entity index must not use an unpartitioned window
    (the single-reducer global row_number)."""
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.datapipe import negatives as NEG

    edges = spark.createDataFrame(
        [Row(h=f"h{i}", r="r", t=f"t{i}") for i in range(20)]
    )
    p = _plan(NEG.entity_index(edges))
    # the data-scale row_number must be bucket-PARTITIONED; the only
    # unpartitioned window allowed is the 256-row bucket-offset cumsum
    assert "row_number() windowspecdefinition(bucket" in p
    assert "CartesianProduct" not in p


# ------------------------------------------------------------------ #
# session-8 ops: sketches / sampling / graph structure
# ------------------------------------------------------------------ #


def test_sketch_register_aggs_partial_and_no_cartesian(docs):
    from orionbelt_ontology_builder_spark.datapipe import sketches

    for df in (
        sketches.hll_distinct(docs),
        sketches.countmin_topk(docs, k=5),
        sketches.bloom_stats(docs),
        sketches.hll_merge(docs),
    ):
        plan = _plan(df)
        # register construction is a hash aggregation (map-side partial
        # -> O(cells) shuffle), never an object-hash agg or a cartesian
        assert "CartesianProduct" not in plan
        assert "ObjectHashAggregate" not in plan
        assert "HashAggregate" in plan


def test_weighted_sample_plan_is_take_ordered(docs):
    from orionbelt_ontology_builder_spark.datapipe import curation

    plan = _plan(curation.weighted_sample(docs, k=3))
    # global top-k must compile to TakeOrdered (per-partition heaps),
    # not a full Sort + Exchange of the corpus
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_quantile_sketch_sample_is_take_ordered(docs):
    from orionbelt_ontology_builder_spark.datapipe import sketches

    plan = _plan(sketches.quantile_sketch(docs, k=3))
    assert "TakeOrderedAndProject" in plan


def test_assortativity_no_cartesian_single_corr_agg(spark):
    from orionbelt_ontology_builder_spark.operators import graphstats as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
    )
    plan = _plan(G.assortativity(edges))
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Both sides bucketed on the join key -> SortMergeJoin with ZERO
    Exchange operators (the co-located layout claim, pinned)."""
    from orionbelt_ontology_builder_spark.plans import bucketing as B

    li = spark.range(0, 1000).selectExpr(
        "id as k", "id % 7 as payload"
    )
    od = spark.range(0, 500).selectExpr("id as k", "id % 3 as flag")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        B.write_bucketed(li, "t_big_bkt", "k", n_buckets=8)
        B.write_bucketed(od, "t_dim_bkt", "k", n_buckets=8)
        j = B.colocated_join(spark, "t_big_bkt", "t_dim_bkt", "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_big_bkt")
        spark.sql("DROP TABLE IF EXISTS t_dim_bkt")


def test_cube_pivot_union_plan_shapes(spark):
    """Session-10 ops hold their one-pass claims: CUBE compiles to a
    single Expand + one aggregation exchange (not a union of four
    GROUP BYs); the fixed-list pivot is one exchange with NO extra job
    for value discovery; UNION arms concatenate without an exchange of
    their own (only each arm's scan + the final distinct)."""
    from datetime import datetime

    from orionbelt_ontology_builder_spark.operators import temporal as T

    T0 = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, T0, "click", 1.0), (2, T0, "view", 2.0)],
        "user_id bigint, ts timestamp, event_type string, value double",
    )
    cube_plan = _plan(T.cube_summary(ev))
    assert cube_plan.count("Expand") == 1
    # one shuffle for the agg (+ the orderBy range exchange)
    assert cube_plan.count("Exchange hashpartitioning") == 1

    pivot_plan = _plan(T.pivot_event_counts(ev))
    assert pivot_plan.count("Exchange hashpartitioning") == 1
    assert "Expand" not in pivot_plan

    from orionbelt_ontology_builder_spark.operators import query as Q

    tr = spark.createDataFrame(
        [("s", "p", "o", "uri", None, None)],
        "subj string, pred string, obj string, obj_kind string, "
        "obj_lang string, obj_dt string",
    )
    u = Q.match_union(tr, [[("?x", "p", "?a")], [("?x", "q", "?b")]])
    uplan = _plan(u)
    assert "Union" in uplan
    # the union contributes NO exchange of its own: one per arm
    # pattern (the binding-set DISTINCT projection, same as match_bgp)
    # plus the single final distinct — nothing else
    assert uplan.count("Exchange hashpartitioning") == 3


# ------------------------------------------------------------------ #
# session-11 ops: plan shapes
# ------------------------------------------------------------------ #


def test_sparse_cosine_no_cartesian(docs):
    """The inverted-index cosine must stay an equi-join on the term
    key — no cartesian/nested-loop stage anywhere."""
    txt = _plan(dedup.sparse_cosine_pairs(docs, threshold=0.0))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_scd2_single_key_exchange(spark):
    """Gaps-and-islands SCD2: both windows and the run collapse ride
    ONE hashpartitioning exchange on the key (plus nothing else)."""
    import datetime as dt

    from orionbelt_ontology_builder_spark.operators import temporal as T

    rows = [("u", dt.datetime(2024, 1, 1, 0, i), "a", i) for i in range(4)]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_type string, event_id long"
    )
    txt = _plan(T.scd2_intervals(df, tiebreak="event_id"))
    shuffles = [
        ln for ln in txt.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1, txt


def test_skew_and_join_estimate_broadcast_totals(spark):
    """The 1-row totals re-aggregations join back by BROADCAST, never
    a sort-merge join keyed on nothing."""
    from orionbelt_ontology_builder_spark.operators import profiling as P

    df = spark.createDataFrame([(i % 3,) for i in range(20)], "k long")
    txt = _plan(P.skew_report(df, key="k"))
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt
    assert "CartesianProduct" not in txt
    b = spark.createDataFrame([(i % 5,) for i in range(20)], "k long")
    txt2 = _plan(P.join_size_estimate(df, b, key_a="k"))
    assert "CartesianProduct" not in txt2


def test_prune_estimate_single_data_agg(spark):
    """prune_estimate shuffles the data once on (layout, bucket); the
    layout-level re-agg runs on the ~48-row result."""
    import datetime as dt

    from orionbelt_ontology_builder_spark.datapipe import layout as L

    rows = [(u, dt.datetime(2024, 1, 1, 0, u % 60)) for u in range(64)]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    txt = _plan(L.prune_estimate(ev))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt or "BuildRight" in txt


# ------------------------------------------------------------------ #
# session-12 ops: plan shapes
# ------------------------------------------------------------------ #


def test_prefix_jaccard_plan_no_cartesian(docs):
    plan = _plan(dedup.prefix_jaccard_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mirror_sources_plan_no_cartesian(docs):
    plan = _plan(dedup.mirror_sources(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dbscan_plan_no_cartesian(embs):
    plan = _plan(
        similarity.dbscan_clusters(embs, eps_cos=0.5, min_pts=2, dim=8)
    )
    assert "CartesianProduct" not in plan


def test_ewma_single_window_exchange(spark):
    import datetime as dt

    from orionbelt_ontology_builder_spark.operators import temporal as T

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 7, "c", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    plan = _plan(T.ewma_events(ev))
    # all 8 lags share ONE Window operator (one sort, one exchange)
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2
    assert plan.count("Exchange") <= 2  # key exchange + final orderBy


def test_cdc_apply_single_shuffle_pair(spark):
    import datetime as dt

    from orionbelt_ontology_builder_spark.operators import temporal as T

    snap = spark.createDataFrame([(1, 1.0)], "key long, val double")
    chg = spark.createDataFrame(
        [(1, "U", dt.datetime(2024, 1, 1), 1, 2.0)],
        "key long, op string, ts timestamp, seq long, val double",
    )
    plan = _plan(T.cdc_apply(snap, chg))
    # winner agg + counts ride ONE aggregation (no window operator)
    assert "Window" not in plan or "WindowGroupLimit" in plan


def test_c4_span_dedup_plan_equi_joins_only(docs):
    """Keep-first span dedup must compile to hash/sort-merge equi-joins
    (span-key winner join + doc_id reassembly join) — no cartesian, no
    nested-loop, and the md5 of the reassembled text is a projection
    after the aggregate, never inside it (no ObjectHashAggregate over
    an md5 expression)."""
    plan = _plan(dedup.c4_span_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_plan_equi_wedges_only(spark):
    from orionbelt_ontology_builder_spark.operators import graphstats as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    plan = _plan(G.link_prediction(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_trigram_lm_broadcasts_model_tables(docs):
    """The scoring joins must broadcast the vocab-bounded model tables
    (c3 / c2 / V) — never shuffle the doc-trigram stream against them."""
    from orionbelt_ontology_builder_spark.datapipe import textstats as TS

    plan = _plan(TS.char_trigram_logprob(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_plan_broadcasts_lut(embs):
    import orionbelt_ontology_builder_spark.datapipe.similarity as S

    plan = _plan(S.pq_adc_topk(embs, n_queries=2, k=2, m=2, kc=2, dim=8))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unroll_lists_broadcast_guard_both_modes(spark):
    """VERDICT r3 #5: the rdf:rest hop join must broadcast only under
    the size threshold and fall back to a co-partitioned shuffle join
    above it — same rows either way."""
    from orionbelt_ontology_builder_spark.model import RDF
    from orionbelt_ontology_builder_spark.operators import lists as L

    rows = [
        ("h", RDF.first, "a"), ("h", RDF.rest, "c1"),
        ("c1", RDF.first, "b"), ("c1", RDF.rest, "c2"),
        ("c2", RDF.first, "c"), ("c2", RDF.rest, RDF.nil),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")

    fast = L.unroll_lists(t, max_len=4, broadcast_rests=True)
    slow = L.unroll_lists(t, max_len=4, broadcast_rests=False)
    expect = {("h", 0, "a"), ("h", 1, "b"), ("h", 2, "c")}
    assert {tuple(r) for r in fast.collect()} == expect
    assert {tuple(r) for r in slow.collect()} == expect

    assert "BroadcastHashJoin" in _plan(fast)
    slow_plan = _plan(slow)
    # the hop join must NOT be broadcast in guarded mode; the final
    # head/anti joins may still broadcast (they are output-sized)
    assert "SortMergeJoin" in slow_plan or "ShuffledHashJoin" in slow_plan
