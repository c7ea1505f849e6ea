"""End-to-end KG-construction pipeline (BASELINE.json north_star):

    pages --(Arrow UDF html->text + pattern extraction)--> raw triples
          --(MinHash-LSH blocking + Jaccard verify)-------> sameAs edges
          --(connected components)------------------------> canonical map
          --(rewrite + materialize)-----------------------> edges,
                                                             class_hierarchy

Every stage is a DataFrame transform; the only Python is Arrow-batched
extraction.  The chain from raw triples to edges is written once
(``_link``): ``build_kg`` runs it over persisted in-memory extraction
and returns DataFrames; ``run_pipeline`` runs it over the checkpointed
per-slice extraction and adds the partitioned writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.setops import sides
from .canonicalize import canonical_map, rewrite_edges
from .extract import extract_raw_triples
from .linking import verified_same_as


def surface_mentions(raw: DataFrame) -> DataFrame:
    """Distinct subject/object surface forms of raw triples — linking
    operates on these (small next to the edge set); class names are
    kept and link to themselves only."""
    return (
        raw.select(F.col("subj_surface").alias("mention"))
        .unionByName(raw.select(F.col("obj_surface").alias("mention")))
        .distinct()
    )


def class_hierarchy(edges: DataFrame) -> DataFrame:
    """Distinct (child, parent) pairs of the subClassOf edges."""
    return (
        edges.filter(F.col("pred") == "subClassOf")
        .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
        .distinct()
    )


def _link(raw: DataFrame) -> dict[str, DataFrame]:
    """raw triples -> verified sameAs -> canonical map -> rewritten
    edges.  ``raw`` feeds two consumers (mentions + rewrite); callers
    hand in a persisted or parquet-backed frame so extraction does not
    rerun per branch."""
    mentions = surface_mentions(raw)
    same_as = verified_same_as(mentions)
    mapping = canonical_map(same_as)
    edges = rewrite_edges(raw, mapping)
    return {
        "raw_triples": raw,
        "mentions": mentions,
        "same_as": same_as,
        "canonical_map": mapping,
        "edges": edges,
        "class_hierarchy": class_hierarchy(edges),
    }


def build_kg(pages: DataFrame) -> dict[str, DataFrame]:
    return _link(extract_raw_triples(pages).persist())


def run_pipeline(
    spark: SparkSession, pages: DataFrame, out_dir: str, n_slices: int = 8
) -> dict[str, DataFrame]:
    """Checkpointed variant: extraction runs per-slice with manifest
    resume, then the ``build_kg`` chain over the accumulated raw
    triples, then partitioned writes."""
    from . import materialize as M

    kg = _link(M.run_extraction_with_checkpoints(spark, pages, out_dir, n_slices))
    M.write_edges(kg["edges"], out_dir)
    M.write_class_hierarchy(kg["class_hierarchy"], out_dir)
    return kg


def incremental_update(
    raw_old: DataFrame, map_old: DataFrame, pages_new: DataFrame
) -> dict[str, DataFrame]:
    """O(delta) nightly-crawl refresh: fold a NEW batch of pages into an
    existing build without re-linking the whole corpus (north_rule:
    resumable pipeline at 10^12-document scale — a full LSH + CC rerun
    per crawl increment is O(corpus), this is O(delta + affected)).

    Law (tested): the applied result equals a full rebuild over
    (old ∪ new) pages row-for-row — candidate pairs over the union
    partition into pairs-both-old (already folded into ``map_old``) and
    pairs touching a fresh mention (``verified_same_as`` with the
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
    Signatures are still computed for ALL mentions (old and new); only
    the candidate join and the verify are delta-sized.  On a cluster,
    ``raw_old`` / ``map_old`` are Iceberg tables."""
    from ..operators.fixpoint import incremental_components

    raw_new = extract_raw_triples(pages_new).persist()
    m_old = surface_mentions(raw_old)
    m_new = surface_mentions(raw_new)
    fresh = m_new.join(m_old, "mention", "left_anti")
    all_m = m_old.unionByName(m_new).distinct()
    delta = verified_same_as(all_m, fresh).persist()

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
        "class_hierarchy": class_hierarchy(edges),
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
    is parallelized first).  Counters come from ONE ``setops.sides``
    membership fold + conditional aggregate — only three numbers ever
    reach the driver, so the gate holds at 2M pages (6.3M distinct truth
    triples) without a driver-side materialization.
    """
    norm = edges.select(
        F.lower(F.regexp_replace("subj", "[- ]", "")).alias("s"),
        F.col("pred").alias("p"),
        F.lower(F.regexp_replace("obj", "[- ]", "")).alias("o"),
    )
    if isinstance(truth, set):
        truth = edges.sparkSession.createDataFrame(
            list(truth), "s string, p string, o string"
        )
    in_g, in_t = F.col("in_a"), F.col("in_b")
    row = sides(norm, truth, ["s", "p", "o"]).agg(
        F.count(F.when(in_g, 1)).alias("extracted"),
        F.count(F.when(in_t, 1)).alias("expected"),
        F.count(F.when(in_g & in_t, 1)).alias("tp"),
    ).collect()[0]
    tp, extracted, expected = row["tp"], row["extracted"], row["expected"]
    return {
        "precision": tp / extracted if extracted else 0.0,
        "recall": tp / expected if expected else 0.0,
        "tp": tp,
        "extracted": extracted,
        "expected": expected,
    }
