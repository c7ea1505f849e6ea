#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys carried for the scaling story (north_rule: throughput at two
parallelism levels): "cpus", "pipeline_pages", "pipeline_triples",
"triples_per_sec".

Usage:
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from orionbelt_ontology_builder_spark import session as S  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pages synthesized for the KG-construction leg, proportional to sf
_SF = {"sf0.001": 0.001, "sf0.01": 0.01, "sf0.1": 0.1}.get(
    os.path.basename(SF_DIR.rstrip("/")), 0.1
)
N_PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", str(int(1_000_000 * _SF))))
# scaling-pair runs (north_rule: same job at two parallelism levels) time
# only the pipeline leg; default 0 keeps the full query suite
PIPELINE_ONLY = os.environ.get("SPARK_GRAFT_PIPELINE_ONLY", "0") == "1"
# best-of-N for the pipeline leg (default 2; long scaling legs at 4M+
# pages set 1 — at that scale the measurement exceeds the noise floor)
PIPE_BEST_OF = int(os.environ.get("SPARK_GRAFT_PIPE_BEST_OF", "2"))
# synthesis slices (input splits): default leaves spark.range's
# defaultParallelism slicing; >= 20M pages needs finer slices or the
# persist() fills multi-GB partition blocks (GC-thrash OOM at 12g —
# a real cluster reads many splits, this is the local analog)
PAGE_SLICES = int(os.environ.get("SPARK_GRAFT_PAGE_SLICES", "0")) or None


def main() -> None:
    spark = S.get_spark(app="orionbelt-bench", cpus=CPUS)
    S.ship_package(spark)
    if not PIPELINE_ONLY:
        # sf0.1 bench legs are exchange-latency-bound: 1 task wave per
        # core measured uniformly faster than the session default of 2
        # (kg_pipeline 9.6 -> 7.0 s, curation 8.8 -> 7.6 s, nothing
        # regressed).  Scaling-pair runs (PIPELINE_ONLY, >= 2M pages)
        # keep the 2x width — straggler slack wins once real data
        # volume fills the waves.
        spark.conf.set("spark.sql.shuffle.partitions", str(max(CPUS, 8)))

    import __spark_entry__ as E
    from orionbelt_ontology_builder_spark.pipeline import pages as P
    from orionbelt_ontology_builder_spark.pipeline import run as R

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # -- KG-construction pipeline (the north-star headline) ------------
    pages = P.synthesize_pages(spark, N_PAGES, partitions=PAGE_SLICES)
    pages = pages.persist()
    pages.count()  # synthesis outside the timed region: we grade the KG build

    # warmup: run the full plan once at 10% scale so whole-stage codegen
    # compilation + JIT happen outside the timed region AND the AQE
    # stage shapes match the timed run's (a 1k-page warmup compiles
    # different coalesced plans, leaving ~1.5 s of first-run-at-scale
    # compile inside the measurement; a real cluster job amortizes all
    # of this to noise over TBs)
    warm = P.synthesize_pages(spark, max(1000, N_PAGES // 10))
    wkg = R.build_kg(warm)
    wkg["edges"].count()
    wkg["class_hierarchy"].count()
    wkg["raw_triples"].unpersist()

    def kg_leg():
        kg = R.build_kg(pages)
        edges = kg["edges"].persist()
        n_edges = edges.count()
        n_hier = kg["class_hierarchy"].count()
        edges.unpersist()
        return n_edges + n_hier

    # best-of-2 like the query legs below: the pipeline is deterministic
    # and the host's ±25-30% noise otherwise dominates round-to-round
    # deltas of the headline number
    n_triples = timed("kg_pipeline", kg_leg)
    for _ in range(PIPE_BEST_OF - 1):
        first = timings["kg_pipeline"]
        timed("kg_pipeline", kg_leg)
        timings["kg_pipeline"] = min(first, timings["kg_pipeline"])
    extras["pipeline_pages"] = N_PAGES
    extras["pipeline_triples"] = n_triples
    extras["triples_per_sec"] = round(n_triples / timings["kg_pipeline"], 1)
    pages.unpersist()
    # drop pipeline caches (pages html ~GBs at 100k pages) so the query
    # legs below are not measured under memory pressure
    spark.catalog.clearCache()

    # -- ontology-engine queries over induced + fixture graphs ---------
    qs = E.queries()
    bench_queries = [] if PIPELINE_ONLY else [
        "induced_hierarchy",
        "induced_stats",
        "induced_individuals_per_class",
        "superclass_closure",
        "connected_components",
        "merge_overwrite",
        "diff_summary",
        "tpch_q1",
        "top_customers",
        "events_running",
        # training-data ops (present from r1 mid-session onward)
        "dedup_exact",
        "c4_span_dedup",
        "incremental_dedup",
        "dedup_minhash_pairs",
        "dedup_simhash",
        "text_quality",
        "lang_id",
        "ann_cosine_topk",
        "ann_ivf_topk",
        "dedup_embedding_cosine_ivf",
        "media_features",
        "doc_fingerprint",
        "stream_event_counts",
        # corpus-curation ops (r2)
        "decontaminate",
        "pack_sequences",
        "quality_funnel",
        "corpus_split",
        "budget_sample",
        "chunk_text",
        "curation_pipeline",
        # graph analytics (r2)
        "graph_degree_stats",
        "graph_pagerank",
        "graph_triangles",
        "graph_bfs_hops",
        "stream_dedup",
        # temporal operators (r2)
        "asof_join_events",
        "range_join_events",
        "hypertable_rollup",
        "session_stats_events",
        # term-salience / vocab ops (r2)
        "tfidf_topk",
        "zipf_topk",
        # r2 late additions: communities, walks, line dedup, collocations
        "graph_communities",
        "graph_random_walks",
        "line_dedup",
        "term_cooccurrence",
        "dedup_containment",
        "graph_neighbor_jaccard",
        "ngram_lm_counts",
        "walk_skipgrams",
        "graph_kcore",
        "vocab_drift",
        "graph_hits",
        "sq8_stats",
        "graph_component_sizes",
        "lang_confusion",
        "event_transitions",
        "length_histogram",
        "funnel_completion",
        "label_centroids",
        "event_rate_anomaly",
        # schema-profiling ops (r2 late)
        "cohort_retention",
        "predicate_cardinality",
        "predicate_cooccurrence",
        "json_props_profile",
        # query-engine + KG ops (r2 late)
        "deep_instance_counts",
        "bgp_match",
        "path_query",
        "construct_rule",
        "latest_wins",
        # embedding / tokenizer / curation ops (r2 late)
        "embedding_covariance",
        "bpe_merge_pairs",
        "domain_quality",
        # SPARQL negation/aggregation + passage dedup (r2 late)
        "bgp_minus",
        "bgp_aggregate",
        "passage_dup",
        # crawl link-graph ops (r2 late)
        "host_link_graph",
        "host_rank",
        "crawl_frontier",
        # SPARQL VALUES/LIMIT + star paths (r2 late)
        "bgp_values_limit",
        "path_query_star",
        # contrastive hard negatives (r2 late)
        "hard_negatives",
        "anchor_texts",
        "reasoning_chain",
        # ASK/DESCRIBE, reciprocity, source dup (r2 late)
        "bgp_ask",
        "describe_resource",
        "host_reciprocity",
        "source_dup_rate",
        "host_crawl_recency",
        # session-8: trust propagation, LM scoring, SCC, sketches,
        # unequal-probability sampling, leakage-safe split
        "host_trustrank",
        "bigram_logprob",
        "graph_scc",
        "sketch_hll",
        "sketch_countmin",
        "sketch_bloom",
        "sketch_quantiles",
        "weighted_sample",
        "grouped_split",
        "graph_assortativity",
        "graph_hyperball",
        "sketch_hll_merge",
        "mixture_weights",
        "decontaminate_embedding",
        "graph_local_clustering",
        "fk_discovery",
        "compression_ratio",
        "stream_distinct_users",
        "bloom_join_reduction",
        "tpch_q3",
        "shacl_values",
        "ccnet_buckets",
        "vocab_typo_pairs",
        # session-9: NB classifier, DSIR selection, KG-embedding eval
        "nb_lang_confusion",
        "dsir_select",
        "distmult_rank",
        # session-10: grouping sets, fixed-list pivot, SPARQL UNION,
        # session_window sessionization (streaming drain)
        "events_cube",
        "events_pivot",
        "bgp_union",
        "stream_sessionize",
        # session-11: SCD2 history, sparse cosine, IVM merge, layout
        # pruning, OWL-RL consistency
        "scd2_intervals",
        "dedup_sparse_cosine",
        "merge_rollups",
        "prune_estimate",
        "owl_consistency",
        "blocking_metrics",
        "skew_report",
        "bgp_paginate",
        "path_query_neg",
        "join_size_estimate",
        "compaction_plan",
        "ann_recall",
        "state_durations",
        "quality_expectations",
        "mutual_nn_pairs",
        "path_query_bounded",
        "incremental_components",
        # session-12: community quality, CDC merge, FS record linkage
        "graph_modularity",
        "cdc_apply",
        "fellegi_sunter",
        "fs_pair_scores",
        "harmonic_centrality",
        "prefix_jaccard",
        "neighbor_mean_embedding",
        "graph_ktruss",
        "kg_triple_history",
        "score_calibration",
        "extractor_kappa",
        "golden_records",
        "stream_cdc_apply",
        "top_eigenvector",
        "ewma_events",
        "wl_colors",
        "mirror_sources",
        "join_advisor",
        "source_robust_quality",
        "bm25_search",
        "dbscan_clusters",
        "resolve_redirects",
        "bpe_train_merges",
        "char_trigram_lm",
        "link_prediction",
        "fd_discovery",
        "bpe_fertility",
        "dedup_srp_pairs",
        "leakage_safe_split",
        "pq_adc_topk",
        "lsh_plan",
        "embedding_drift",
        # session-14 ops
        "node2vec_walks",
        "truth_discovery",
        "graph_weighted_sssp",
        "cls_membership",
        "hearst_patterns",
        "hierarchy_reduction",
        "acronym_pairs",
        "sorted_neighborhood",
        "tpch_q5",
        "tpch_q6",
        "graph_summary",
        # session-15 ops
        "paris_matches",
        "allen_relations",
        "interval_coalesce",
        "textrank_keywords",
        "fact_ranking",
        "bcubed_linkage",
        "void_summary",
        "sdtype_infer",
        "incremental_closure",
        "ontology_metrics",
        "suggest_functional",
        "suggest_inverse",
        "suggest_ranges",
        "mine_shapes",
        "gazetteer_mentions",
        "disambiguate_mentions",
        "egonet_density",
        "linkage_pr_curve",
        "linkage_lr_weights",
        "dedupe_entities",
        "provenance_roundtrip",
        "void_summary_hll",
        "dictionary_audit",
        "encoded_two_hop",
        "breaking_changes",
        "stream_nt_ingest",
        "copula_instances",
        "coordination_siblings",
        "skos_mappings",
        "mined_axioms",
        # session-16 ops: unigram tokenizer, geo blocking, LPG export,
        # rule mining, open IE
        "unigram_vocab",
        "geo_proximity_pairs",
        "pg_export_nodes",
        "pg_export_edges",
        "amie_rules",
        "open_relations",
        "rule_predictions",
        "graph_digest",
        "canonicalize_literals",
        "partition_quality",
        "rrf_retrieval",
        "stream_near_dedup",
        "numeric_outliers",
        "bitext_candidates",
        "resolve_anaphora",
        "recall_estimate",
        "sparql_text_induced",
        "sparql_text_agg",
        "sparql_text_union",
        "license_detect",
        "blocklist_stats",
        "temporal_folds",
        "bgp_plan_order",
        "keyness_terms",
        "bootstrap_ci",
        "motif_significance",
        "warc_records",
        "web_tables",
        "jsonld_islands",
        "hreflang_links",
        "k_anonymity",
        # round 3 additions
        "n3_roundtrip",
        "media_image_stats",
        "media_audio_stats",
        "reasoning_owlrl_reference",
        "viz_edges",
        "robots_rules",
        "sitemap_urls",
        # round 4 additions
        "media_png_stats",
        # round 5 additions
        "media_jpeg_stats",
        "media_gif_stats",
        "media_adpcm_stats",
        "media_webp_stats",
        "media_mulaw_stats",
        "media_alaw_stats",
        "media_flac_stats",
        "dedup_exact_substr",
    ]
    # best-of-2 per query: the sandbox host shows ±25-30% run-to-run
    # noise (BENCH.md envelope); queries are deterministic, so min is
    # the measurement with the least environmental interference.
    for name in bench_queries:
        fn = qs.get(name)
        if fn is None:
            continue
        timed(name, lambda fn=fn: fn(spark, SF_DIR).count())
        first = timings[name]
        timed(name, lambda fn=fn: fn(spark, SF_DIR).count())
        timings[name] = min(first, timings[name])

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "kg_construct_e2e",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _SF,
                "cpus": CPUS,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
