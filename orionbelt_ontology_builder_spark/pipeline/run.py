"""End-to-end KG-construction pipeline (BASELINE.json north_star):

    pages --(Arrow UDF html->text + pattern extraction)--> raw triples
          --(MinHash-LSH blocking + Jaccard verify)-------> sameAs edges
          --(connected components)------------------------> canonical map
          --(rewrite + materialize)-----------------------> edges,
                                                             class_hierarchy

Every stage is a DataFrame transform; the only Python is Arrow-batched
extraction.  ``build_kg`` is pure (returns DataFrames); ``run_pipeline``
adds partitioned writes + checkpoint manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import canonical_map, rewrite_edges
from .extract import extract_raw_triples
from .linking import verified_same_as


def build_kg(
    pages: DataFrame,
    jaccard_threshold: float = 0.9,
    use_text_column: bool = False,
) -> dict[str, DataFrame]:
    # raw feeds two consumers (mention extraction + final edge rewrite):
    # persist so the Arrow extraction stage runs once, not per-branch
    raw = extract_raw_triples(pages, use_text_column=use_text_column).persist()
    # linking operates on distinct surface forms (small next to the edge
    # set); exclude none — class names link to themselves only
    mentions = (
        raw.select(F.col("subj_surface").alias("mention"))
        .unionByName(raw.select(F.col("obj_surface").alias("mention")))
        .distinct()
    )
    # persist: canonical_map consumes same_as twice (edge symmetrization
    # + node set) before checkpointing — without this the LSH-verify
    # lineage executes twice
    same_as = verified_same_as(
        mentions, jaccard_threshold=jaccard_threshold
    ).persist()
    mapping = canonical_map(same_as)
    edges = rewrite_edges(raw, mapping)
    return {
        "raw_triples": raw,  # persisted above; shared by mentions + rewrite
        "mentions": mentions,
        "same_as": same_as,
        "canonical_map": mapping,
        "edges": edges,
        "class_hierarchy": (
            edges.filter(F.col("pred") == "subClassOf")
            .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
            .distinct()
        ),
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_slices: int = 8,
    jaccard_threshold: float = 0.9,
) -> dict[str, DataFrame]:
    """Checkpointed variant: extraction runs per-slice with manifest
    resume, then linking/canonicalization over the accumulated raw
    triples, then partitioned writes."""
    from .materialize import (
        run_extraction_with_checkpoints,
        write_class_hierarchy,
        write_edges,
    )

    raw = run_extraction_with_checkpoints(spark, pages, out_dir, n_slices)
    mentions = (
        raw.select(F.col("subj_surface").alias("mention"))
        .unionByName(raw.select(F.col("obj_surface").alias("mention")))
        .distinct()
    )
    same_as = verified_same_as(mentions, jaccard_threshold=jaccard_threshold)
    mapping = canonical_map(same_as)
    edges = rewrite_edges(raw, mapping)
    write_edges(edges, out_dir)
    write_class_hierarchy(edges, out_dir)
    return {"edges": edges, "canonical_map": mapping, "same_as": same_as}


def incremental_update(
    raw_old: DataFrame,
    map_old: DataFrame,
    pages_new: DataFrame,
    jaccard_threshold: float = 0.9,
    use_text_column: bool = False,
) -> dict[str, DataFrame]:
    """O(delta) nightly-crawl refresh: fold a NEW batch of pages into an
    existing build without re-linking the whole corpus (north_rule:
    resumable pipeline at 10^12-document scale — a full LSH + CC rerun
    per crawl increment is O(corpus), this is O(delta + affected)).

    Law (tested): the applied result equals a full rebuild over
    (old ∪ new) pages row-for-row — candidate pairs over the union
    partition into pairs-both-old (already folded into ``map_old``) and
    pairs touching a fresh mention (``lsh_candidate_pairs`` with the
    fresh mentions as its probe set);
    ``incremental_components`` reproduces the full CC labels from the
    old map's spanning forest + delta edges; and only edges whose
    surface's canonical assignment CHANGED need re-rewriting (an
    unchanged mapping rewrites identically under either map).

    Returns the delta contract a lakehouse MERGE applies:
    ``edges_delta`` (rewritten affected-old + new rows) and
    ``raw_affected_old`` (whose previously-materialized edges must be
    retired), plus the applied views ``edges`` / ``class_hierarchy``
    and the updated ``canonical_map`` / accumulated ``raw_triples``.
    On a cluster, ``raw_old`` / ``map_old`` / the signature store are
    Iceberg tables; only fresh mentions need new signatures."""
    from .linking import lsh_candidate_pairs, mention_signatures, verify_pairs
    from ..operators.fixpoint import incremental_components

    raw_new = extract_raw_triples(
        pages_new, use_text_column=use_text_column
    ).persist()

    def surfaces(raw):
        return (
            raw.select(F.col("subj_surface").alias("mention"))
            .unionByName(raw.select(F.col("obj_surface").alias("mention")))
            .distinct()
        )

    m_old = surfaces(raw_old)
    m_new = surfaces(raw_new)
    fresh = m_new.join(m_old, "mention", "left_anti")
    all_m = m_old.unionByName(m_new).distinct()

    sigs = mention_signatures(all_m).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sigs, fresh)
    delta = verify_pairs(
        pairs, sigs, jaccard_threshold=jaccard_threshold
    ).persist()

    cc_old = map_old.select(
        F.col("mention").alias("node"), F.col("canonical").alias("component")
    )
    map_new = incremental_components(
        cc_old, delta.select(F.col("m1").alias("src"), F.col("m2").alias("dst"))
    ).select(
        F.col("node").alias("mention"), F.col("component").alias("canonical")
    ).persist()

    # mentions whose canonical assignment changed (newly mapped, or an
    # old component re-repped by a smaller merged-in member)
    changed = (
        map_new.join(
            map_old.withColumnRenamed("canonical", "old_canon"),
            "mention",
            "left",
        )
        .filter(
            F.col("old_canon").isNull()
            | (F.col("old_canon") != F.col("canonical"))
        )
        .select("mention")
    )
    c_subj = changed.select(
        F.col("mention").alias("subj_surface"), F.lit(True).alias("_cs")
    )
    c_obj = changed.select(
        F.col("mention").alias("obj_surface"), F.lit(True).alias("_co")
    )
    tagged = (
        raw_old.join(F.broadcast(c_subj), "subj_surface", "left")
        .join(F.broadcast(c_obj), "obj_surface", "left")
        .persist()
    )
    hit = F.col("_cs").isNotNull() | F.col("_co").isNotNull()
    affected_old = tagged.filter(hit).drop("_cs", "_co")
    untouched_old = tagged.filter(~hit).drop("_cs", "_co")

    edges_delta = rewrite_edges(
        affected_old.unionByName(raw_new.select(*affected_old.columns)),
        map_new,
    )
    # applied view: untouched rows rewrite identically under map_old
    # (their mappings did not change), so kept ∪ delta == a full
    # rebuild's rewrite of (raw_old ∪ raw_new) under map_new
    edges_kept = rewrite_edges(untouched_old, map_old)
    edges = edges_kept.unionByName(edges_delta)
    return {
        "raw_triples": raw_old.unionByName(raw_new.select(*raw_old.columns)),
        "same_as_delta": delta,
        "canonical_map": map_new,
        "raw_affected_old": affected_old,
        "edges_delta": edges_delta,
        "edges": edges,
        "class_hierarchy": (
            edges.filter(F.col("pred") == "subClassOf")
            .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
            .distinct()
        ),
    }


# --------------------------------------------------------------------------
# P/R scoring vs ground truth (the BASELINE gate at small scale)
# --------------------------------------------------------------------------


def precision_recall(
    edges: DataFrame, truth
) -> dict[str, float]:
    """Normalized-triple precision/recall vs the synthesizer's ground
    truth.

    ``truth`` is a (s, p, o) DataFrame (``pages.ground_truth_df`` — the
    scale path) or a Python set (the small-scale test convenience, which
    is parallelized first).  Counters come from ONE full-outer join +
    conditional aggregate — only three numbers ever reach the driver, so
    the gate holds at 2M pages (6.3M distinct truth triples) without a
    driver-side materialization.
    """
    norm = edges.select(
        F.lower(F.regexp_replace("subj", "[- ]", "")).alias("s"),
        F.col("pred").alias("p"),
        F.lower(F.regexp_replace("obj", "[- ]", "")).alias("o"),
    ).distinct()
    if isinstance(truth, set):
        truth = edges.sparkSession.createDataFrame(
            list(truth), "s string, p string, o string"
        )
    truth = truth.distinct()
    j = norm.withColumn("g", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["s", "p", "o"], "full_outer"
    )
    row = j.agg(
        F.count("g").alias("extracted"),
        F.count("t").alias("expected"),
        F.count(F.when(F.col("g").isNotNull() & F.col("t").isNotNull(), 1)).alias("tp"),
    ).collect()[0]
    tp, extracted, expected = row["tp"], row["extracted"], row["expected"]
    return {
        "precision": tp / extracted if extracted else 0.0,
        "recall": tp / expected if expected else 0.0,
        "tp": tp,
        "extracted": extracted,
        "expected": expected,
    }
