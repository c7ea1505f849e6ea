"""Set operations: diff / merge / conflict detection (SURVEY.md §2.7).

The reference implements these with Python ``set`` algebra over fully
materialized graphs (``ontology_manager.py:2423-2424``, ``:2467``).  Here
every two-relation comparison goes through one membership fold,
:func:`sides`: the distinct key rows of both inputs with an in-a / in-b
flag each, so the diffs are set-valued even when an input repeats a
row.  Keyed on the 6-column term encoding, equality includes
lang/datatype exactly as rdflib does.  All distributed: the fold does
partial aggregation map-side and spills; no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import CONFLICT_PREDICATES, OWL, RDF, RDFS, TRIPLE_COLS

# Merge strategies (reference ontology_manager.py:2112-2172)
REPLACE = "replace"
MERGE = "merge"
MERGE_OVERWRITE = "merge_overwrite"


def merge_graphs(
    current: DataFrame, incoming: DataFrame, strategy: str = MERGE
) -> DataFrame:
    """Merge ``incoming`` into ``current``.

    * REPLACE: discard current (reference ``:2125-2133``).
    * MERGE: set union — duplicate triples collapse (``:2134-2137``,
      test ``tests/test_merge.py:70``).
    * MERGE_OVERWRITE: union, but for conflict predicates
      {label, domain, range, comment, versionIRI, creator} the incoming
      value replaces current when the (subj, pred) key exists in both
      (``:2139-2163``) — expressed as an anti-join of current's conflict
      rows against incoming's (subj, pred) keys.
    """
    if strategy == REPLACE:
        return incoming.dropDuplicates(TRIPLE_COLS)
    if strategy == MERGE:
        return current.unionByName(incoming).dropDuplicates(TRIPLE_COLS)
    if strategy == MERGE_OVERWRITE:
        is_conflict = F.col("pred").isin(*CONFLICT_PREDICATES)
        cur_conf = current.filter(is_conflict)
        cur_rest = current.filter(~is_conflict)
        incoming_keys = incoming.filter(is_conflict).select("subj", "pred").distinct()
        # keep current conflict rows only where incoming has no value for
        # that (subj, pred) — incoming wins on collision
        cur_conf_kept = cur_conf.join(incoming_keys, ["subj", "pred"], "left_anti")
        return (
            cur_rest.unionByName(cur_conf_kept)
            .unionByName(incoming)
            .dropDuplicates(TRIPLE_COLS)
        )
    raise ValueError(f"unknown merge strategy: {strategy}")


def detect_conflicts(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """(subj, pred) present in both graphs with differing objects, conflict
    predicates only, dedup by (subj, pred) (reference ``:2068-2110``)."""
    is_conflict = F.col("pred").isin(*CONFLICT_PREDICATES)
    cur = current.filter(is_conflict).select(
        "subj", "pred", F.col("obj").alias("current_value")
    )
    inc = incoming.filter(is_conflict).select(
        "subj", "pred", F.col("obj").alias("incoming_value")
    )
    return (
        cur.join(inc, ["subj", "pred"])
        .filter(F.col("current_value") != F.col("incoming_value"))
        .groupBy("subj", "pred")
        .agg(
            F.min("current_value").alias("current_value"),
            F.min("incoming_value").alias("incoming_value"),
        )
        .orderBy("subj", "pred")
    )


def sides(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """The distinct ``keys`` rows of ``a`` ∪ ``b`` with boolean ``in_a`` /
    ``in_b`` columns: the membership fold behind every two-relation
    comparison (diffs, churn, breaking changes, P/R counters).

    Plan: one ``unionByName`` of the two tagged projections and one
    ``groupBy(keys)`` with ``max`` per flag, so one exchange with a
    map-side partial aggregate.  A row repeated on either side folds to
    one key row, so callers get set semantics by construction, and
    ``groupBy`` treats NULLs as equal, so NULL ``obj_lang`` / ``obj_dt``
    slots match as rdflib terms do."""

    def tag(df: DataFrame, in_a: bool) -> DataFrame:
        return df.select(
            *keys, F.lit(in_a).alias("in_a"), F.lit(not in_a).alias("in_b")
        )

    return (
        tag(a, True)
        .unionByName(tag(b, False))
        .groupBy(*keys)
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )


def _membership() -> tuple:
    """(added, removed, both, bnode) predicates over a :func:`sides`
    fold of (old, new).  The bnode split is on the SUBJECT only
    (reference filters t[0] BNode, :2427-2430): a named subject
    referencing a bnode (e.g. subClassOf a restriction node) IS
    surfaced and counted as a named change."""
    in_a, in_b = F.col("in_a"), F.col("in_b")
    return in_b & ~in_a, in_a & ~in_b, in_a & in_b, F.col("subj").startswith("_:")


def diff_graphs(current: DataFrame, other: DataFrame) -> dict[str, DataFrame]:
    """Set diff (reference ``compare_graphs``, ``:2412-2486``):
    ``added = other - current``, ``removed = current - other``,
    ``unchanged = intersection``; bnode-subject triples split out
    (counted, not surfaced — ``:2427-2430``, test ``test_diff.py:74``).
    Every frame filters the same :func:`sides` fold, so a query that
    reads several of them reuses its one exchange.
    """
    return _diff_parts(sides(current, other, TRIPLE_COLS))


def _diff_parts(f: DataFrame) -> dict[str, DataFrame]:
    added, removed, both, is_b = _membership()

    def part(cond) -> DataFrame:
        return f.filter(cond).select(*TRIPLE_COLS)

    return {
        "added": part(added & ~is_b),
        "removed": part(removed & ~is_b),
        "added_bnode": part(added & is_b),
        "removed_bnode": part(removed & is_b),
        "unchanged": part(both),
    }


def diff_summary(current: DataFrame, other: DataFrame) -> DataFrame:
    """One-row diff stats (reference ``:2467-2482``): added/removed/
    unchanged counts with the bnode split — conditional counts over
    one :func:`sides` fold, so one hash exchange."""
    return _diff_stats(sides(current, other, TRIPLE_COLS))


def _diff_stats(f: DataFrame) -> DataFrame:
    added, removed, both, is_b = _membership()
    return f.agg(
        F.count(F.when(added & ~is_b, 1)).alias("added"),
        F.count(F.when(removed & ~is_b, 1)).alias("removed"),
        F.count(F.when(added & is_b, 1)).alias("added_bnode"),
        F.count(F.when(removed & is_b, 1)).alias("removed_bnode"),
        F.count(F.when(both, 1)).alias("unchanged"),
    )


def classify_resources(current: DataFrame, other: DataFrame) -> DataFrame:
    """Per-subject change classification added/removed/modified
    (reference ``:2494-2520``): the named-subject rows of the
    :func:`sides` fold that are on one side only, rolled up per
    subject."""
    return _classify(sides(current, other, TRIPLE_COLS))


def _classify(f: DataFrame) -> DataFrame:
    added, removed, _, is_b = _membership()
    per = (
        f.filter((added | removed) & ~is_b)
        .groupBy("subj")
        .agg(
            F.max("in_b").alias("has_added"), F.max("in_a").alias("has_removed")
        )
    )
    return per.select(
        F.col("subj").alias("resource"),
        F.when(F.col("has_added") & F.col("has_removed"), "modified")
        .when(F.col("has_added"), "added")
        .otherwise("removed")
        .alias("change"),
    ).orderBy("resource")


def detect_prefix_conflicts(cur_prefixes: DataFrame, inc_prefixes: DataFrame) -> DataFrame:
    """Same prefix bound to different namespaces (reference ``:2181-2193``)."""
    cur = cur_prefixes.select("prefix", F.col("namespace").alias("current_ns"))
    inc = inc_prefixes.select("prefix", F.col("namespace").alias("incoming_ns"))
    return (
        cur.join(inc, "prefix")
        .filter(F.col("current_ns") != F.col("incoming_ns"))
        .orderBy("prefix")
    )


def preview_import(
    current: DataFrame, incoming: DataFrame
) -> dict[str, DataFrame]:
    """Stage + analyze without mutating (reference ``preview_import``,
    ``:2026-2066``; purity test ``test_merge.py:131-139``).  Pure by
    construction — nothing is written.  The diff frames, the summary
    and the classification all read one checkpointed :func:`sides`
    fold."""
    from .views import get_ontology_metadata, get_statistics

    f = sides(current, incoming, TRIPLE_COLS).localCheckpoint(eager=True)
    return {
        **_diff_parts(f),
        "conflicts": detect_conflicts(current, incoming),
        "summary": _diff_stats(f),
        "classification": _classify(f),
        # reference preview also surfaces the incoming graph's counts
        # and its ontology label/uri (:2042-2057)
        "incoming_stats": get_statistics(incoming),
        "incoming_meta": get_ontology_metadata(incoming),
    }


# --------------------------------------------------------------------------
# diff detail + human-readable reports (reference compare_graphs
# modified_resources :2433-2452, _summarize_changes :2522-2582,
# format_diff_report :2584-2631)
# --------------------------------------------------------------------------

#: resource types recognized by the summary renderer (reference :2526-2530)
_SUMMARY_TYPES = [
    "Class", "ObjectProperty", "DatatypeProperty", "NamedIndividual",
    "Ontology", "AnnotationProperty", "Restriction",
]
#: display labels (reference :2532-2539 — NB "Restriction" is detected
#: but absent from the label map, so it renders as "resource")
_TYPE_LABELS = {
    "Class": "class",
    "ObjectProperty": "object property",
    "DatatypeProperty": "data property",
    "NamedIndividual": "individual",
    "Ontology": "ontology",
    "AnnotationProperty": "annotation property",
}


def diff_modified_resources(current: DataFrame, other: DataFrame) -> DataFrame:
    """(name, change, kind, predicate, object, object_type): the
    reference's ``modified_resources`` groups flattened to one row per
    changed named-subject triple.  Names are subject local names (the
    reference groups by local name, ``_group_triples_by_subject``);
    predicate/URI objects are local-named, literals kept verbatim.

    Determinism pin: the reference iterates set views (hash order);
    rows here sort by (name, kind, predicate, object)."""
    return _modified(sides(current, other, TRIPLE_COLS))


def _modified(f: DataFrame) -> DataFrame:
    from ..model import local_name_col

    d = _diff_parts(f)

    def flat(df: DataFrame, kind: str) -> DataFrame:
        return df.select(
            local_name_col(F.col("subj")).alias("name"),
            F.lit(kind).alias("kind"),
            local_name_col(F.col("pred")).alias("predicate"),
            F.when(F.col("obj_kind") == "uri", local_name_col(F.col("obj")))
            .otherwise(F.col("obj"))
            .alias("object"),
            F.when(F.col("obj_kind") == "uri", F.lit("uri"))
            .otherwise(F.lit("literal"))
            .alias("object_type"),
        )

    rows = flat(d["added"], "added").unionByName(flat(d["removed"], "removed"))
    change = (
        rows.groupBy("name")
        .agg(
            F.max((F.col("kind") == "added").cast("int")).alias("ha"),
            F.max((F.col("kind") == "removed").cast("int")).alias("hr"),
        )
        .select(
            "name",
            F.when((F.col("ha") == 1) & (F.col("hr") == 1), "modified")
            .when(F.col("ha") == 1, "added")
            .otherwise("removed")
            .alias("change"),
        )
    )
    return rows.join(change, "name").orderBy(
        "name", "kind", "predicate", "object"
    )


def _summary_lines(flat: DataFrame, stats: DataFrame) -> DataFrame:
    """(ord, line) plain-language change summaries, one per changed
    resource ordered by name, plus a trailing anonymous-node line when
    bnode triples changed (reference ``_summarize_changes``), from the
    :func:`diff_modified_resources` rows and the :func:`diff_summary`
    row of one fold."""
    type_map = F.create_map(
        *[F.lit(x) for kv in _TYPE_LABELS.items() for x in kv]
    )
    per = flat.groupBy("name", "change").agg(
        # resource type: first matching type triple, added before
        # removed, then (object) — the reference takes the first in set
        # order, pinned here deterministically
        F.min(
            F.when(
                (F.col("predicate") == "type")
                & F.col("object").isin(_SUMMARY_TYPES),
                F.struct(
                    F.when(F.col("kind") == "added", 0).otherwise(1).alias("k"),
                    F.col("object").alias("o"),
                ),
            )
        ).alias("rt"),
        F.min(
            F.when(
                (F.col("kind") == "added") & (F.col("predicate") == "label"),
                F.col("object"),
            )
        ).alias("lbl"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("predicate") != "type",
                    F.struct(
                        F.when(F.col("kind") == "added", 0)
                        .otherwise(1)
                        .alias("k"),
                        F.col("predicate").alias("p"),
                        F.col("object").alias("o"),
                    ),
                )
            )
        ).alias("details"),
    )
    tl = F.coalesce(F.element_at(type_map, F.col("rt.o")), F.lit("resource"))
    det_strs = F.transform(
        F.col("details"),
        lambda d: F.concat(
            F.when(d["k"] == 0, F.lit("added ")).otherwise(F.lit("removed ")),
            d["p"], F.lit(" = "), d["o"],
        ),
    )
    det_head = F.concat_ws("; ", F.slice(det_strs, 1, 3))
    det_txt = F.when(
        F.size(det_strs) > 3,
        F.concat(
            det_head,
            F.format_string(" (+%d more)", F.size(det_strs) - F.lit(3)),
        ),
    ).otherwise(det_head)
    line = (
        F.when(
            F.col("change") == "added",
            F.concat(
                F.lit("Added "), tl, F.lit(" "), F.col("name"),
                F.coalesce(
                    F.concat(F.lit(' "'), F.col("lbl"), F.lit('"')), F.lit("")
                ),
            ),
        )
        .when(
            F.col("change") == "removed",
            F.concat(F.lit("Removed "), tl, F.lit(" "), F.col("name")),
        )
        .otherwise(
            F.concat(
                F.lit("Modified "), tl, F.lit(" "), F.col("name"),
                F.lit(": "), det_txt,
            )
        )
    )
    res_lines = per.select(
        F.struct(F.lit(0).alias("grp"), F.col("name").alias("key")).alias("ord"),
        line.alias("line"),
    )
    bnode_line = (
        stats
        .filter((F.col("added_bnode") + F.col("removed_bnode")) > 0)
        .select(
            F.struct(F.lit(1).alias("grp"), F.lit("").alias("key")).alias("ord"),
            F.format_string(
                "%d anonymous node triples added, %d removed "
                "(restrictions/expressions)",
                F.col("added_bnode"), F.col("removed_bnode"),
            ).alias("line"),
        )
    )
    return res_lines.unionByName(bnode_line)


def summarize_changes(current: DataFrame, other: DataFrame) -> DataFrame:
    """(idx, line): the reference's ``summary`` list as ordered rows."""
    from pyspark.sql import Window

    f = sides(current, other, TRIPLE_COLS).localCheckpoint(eager=True)
    lines = _summary_lines(_modified(f), _diff_stats(f))
    w = Window.orderBy("ord")  # tiny UI artifact: one-partition window OK
    return lines.select(
        (F.row_number().over(w) - 1).alias("idx"), "line"
    ).orderBy("idx")


def format_diff_report(
    current: DataFrame, other: DataFrame, report_format: str = "markdown"
) -> DataFrame:
    """(idx, line): ``format_diff_report`` (reference ``:2584-2631``) as
    ordered rows — one row per ``lines.append`` element (some elements
    carry a trailing newline exactly as the reference's do; join on
    '\\n' to reproduce the report string byte-for-byte).

    A small UI artifact: assembled from the diff aggregates with a
    final one-partition ordering window, like ``format_delete_impact``.
    """
    # one checkpointed fold feeds the changed-triples frame and the
    # one-row stats that every report section below reads
    f = sides(current, other, TRIPLE_COLS).localCheckpoint(eager=True)
    flat = _modified(f)
    rc = flat.select("name", "change").distinct().groupBy().agg(
        F.count(F.when(F.col("change") == "added", 1)).alias("r_added"),
        F.count(F.when(F.col("change") == "removed", 1)).alias("r_removed"),
        F.count(F.when(F.col("change") == "modified", 1)).alias("r_modified"),
    )
    stats = _diff_stats(f)
    stats_rc = stats.crossJoin(rc)

    def hdr(entries: list) -> DataFrame:
        # entries: (grp, key, pos, line-column)
        return stats_rc.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.struct(
                                F.lit(g).alias("grp"),
                                F.lit(k).alias("key"),
                                F.lit(p).alias("pos"),
                            ).alias("ord"),
                            ln.alias("line"),
                        )
                        for g, k, p, ln in entries
                    ]
                )
            ).alias("e")
        ).select("e.ord", "e.line")

    if report_format == "markdown":
        bnode_hdr = F.when(
            (F.col("added_bnode") + F.col("removed_bnode")) > 0,
            F.format_string(
                "- **Anonymous nodes:** %d added, %d removed",
                F.col("added_bnode"), F.col("removed_bnode"),
            ),
        )
        head = hdr([
            (0, "", 0, F.lit("# Ontology Change Report\n")),
            (0, "", 1, F.lit("## Summary\n")),
            (0, "", 2, F.format_string(
                "- **Added:** %d triples across %d resources",
                F.col("added"), F.col("r_added"))),
            (0, "", 3, F.format_string(
                "- **Removed:** %d triples across %d resources",
                F.col("removed"), F.col("r_removed"))),
            (0, "", 4, F.format_string(
                "- **Modified:** %d resources", F.col("r_modified"))),
            (0, "", 5, F.format_string(
                "- **Unchanged:** %d triples", F.col("unchanged"))),
            (0, "", 6, bnode_hdr),
            (0, "", 7, F.lit("")),
        ]).filter(F.col("line").isNotNull())
        sec_rank = F.when(F.col("change") == "added", 1).when(
            F.col("change") == "removed", 2
        ).otherwise(3)
        sec_hdrs = (
            flat.select("change").distinct()
            .select(
                F.struct(
                    sec_rank.alias("grp"), F.lit("").alias("key"),
                    F.lit(0).alias("pos"),
                ).alias("ord"),
                F.concat(
                    F.lit("## "),
                    F.initcap(F.col("change")).alias("x"),
                    F.lit(" Resources\n"),
                ).alias("line"),
            )
        )
        per = flat.groupBy("name", "change").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.when(F.col("kind") == "added", 0).otherwise(1).alias("k"),
                        F.col("predicate").alias("p"),
                        F.col("object").alias("o"),
                    )
                )
            ).alias("ts")
        )
        block = per.select(
            sec_rank.alias("grp"),
            F.col("name").alias("key"),
            F.concat(
                F.array(F.concat(F.lit("### "), F.col("name"), F.lit("\n"))),
                F.transform(
                    F.col("ts"),
                    lambda t: F.concat(
                        F.when(t["k"] == 0, F.lit("- + ")).otherwise(F.lit("- - ")),
                        t["p"], F.lit(": "), t["o"],
                    ),
                ),
                F.array(F.lit("")),
            ).alias("lines"),
        ).select(
            "grp", "key", F.posexplode("lines").alias("pos", "line")
        ).select(
            F.struct(
                F.col("grp"), F.col("key"), (F.col("pos") + 1).alias("pos")
            ).alias("ord"),
            "line",
        )
        all_lines = head.unionByName(sec_hdrs).unionByName(block)
    else:
        head = hdr([
            (0, "", 0, F.lit("Ontology Change Report")),
            (0, "", 1, F.lit("=" * 40)),
            (0, "", 2, F.format_string(
                "Added: %d triples, Removed: %d triples, Modified: %d resources",
                F.col("added"), F.col("removed"), F.col("r_modified"))),
            (0, "", 3, F.lit("")),
        ])
        body = _summary_lines(flat, stats).select(
            F.struct(
                (F.col("ord.grp") + 1).alias("grp"),
                F.col("ord.key").alias("key"),
                F.lit(0).alias("pos"),
            ).alias("ord"),
            F.concat(F.lit("  "), F.col("line")).alias("line"),
        )
        all_lines = head.unionByName(body)

    from pyspark.sql import Window

    w = Window.orderBy("ord")
    return all_lines.select(
        (F.row_number().over(w) - 1).alias("idx"), "line"
    ).orderBy("idx")


def latest_wins(quads: DataFrame) -> DataFrame:
    """(subj, pred, obj, source, ts, n_versions, n_sources) —
    last-writer-wins conflict resolution over provenance-stamped
    assertions: per (subj, pred) keep the value with the greatest
    (ts, source, obj) — total order, so the winner is deterministic
    even on timestamp ties across sources.

    The multi-source twin of MERGE_OVERWRITE (reference merge modes,
    ``ontology_manager.py``): when N crawls/extractors assert the same
    functional property, freshest wins, and the version/source counts
    expose how contested each assertion was.

    Scale shape: ONE two-phase aggregation keyed (subj, pred) — the
    struct-max and both counts ride the same shuffle with map-side
    partials; no window, no self-join."""
    w = F.max(F.struct("ts", "source", "obj")).alias("w")
    return (
        quads.groupBy("subj", "pred")
        .agg(
            w,
            F.count(F.lit(1)).alias("n_versions"),
            F.count_distinct("source").alias("n_sources"),
        )
        .select(
            "subj",
            "pred",
            F.col("w.obj").alias("obj"),
            F.col("w.source").alias("source"),
            F.col("w.ts").alias("ts"),
            "n_versions",
            "n_sources",
        )
        .orderBy("subj", "pred")
    )


def latest_wins_sql(quads_cte: str) -> str:
    """DuckDB twin (struct max orders fields lexicographically,
    matching Spark's struct ordering)."""
    return f"""{quads_cte}
SELECT subj, pred,
  (max({{'ts': ts, 'source': source, 'obj': obj}})).obj AS obj,
  (max({{'ts': ts, 'source': source, 'obj': obj}})).source AS source,
  (max({{'ts': ts, 'source': source, 'obj': obj}})).ts AS ts,
  count(*)::BIGINT AS n_versions,
  count(DISTINCT source)::BIGINT AS n_sources
FROM quads
GROUP BY subj, pred
ORDER BY subj, pred
"""


def triple_churn(a: DataFrame, b: DataFrame) -> DataFrame:
    """(pred, n_added, n_removed, n_retained, churn) — per-predicate
    change summary between two graph versions (old ``a`` -> new
    ``b``); ``churn`` = (added + removed) / max(1, old-size).  The
    crawl-over-crawl KG health monitor: a predicate whose churn spikes
    signals an extractor regression before any downstream eval does.

    Scale shape: one :func:`sides` fold over the 4-column triple key
    (one exchange, map-side combine), then the per-predicate rollup —
    two hash exchanges in all."""
    added, removed, both, _ = _membership()
    per_pred = (
        sides(a, b, ["subj", "pred", "obj", "obj_kind"])
        .groupBy("pred")
        .agg(
            F.count(F.when(added, 1)).alias("n_added"),
            F.count(F.when(removed, 1)).alias("n_removed"),
            F.count(F.when(both, 1)).alias("n_retained"),
        )
    )
    old_size = F.col("n_removed") + F.col("n_retained")
    return per_pred.select(
        "pred",
        "n_added",
        "n_removed",
        "n_retained",
        (
            (F.col("n_added") + F.col("n_removed"))
            / F.greatest(F.lit(1), old_size)
        ).alias("churn"),
    ).orderBy("pred")


def triple_churn_sql(cte_a: str, cte_b: str) -> str:
    """DuckDB twin; ``cte_a``/``cte_b`` define relations ``ga``/``gb``
    with triple columns."""
    return f"""{cte_a},{cte_b},
tagged AS (
  SELECT subj, pred, obj, obj_kind, 1 AS in_a, 0 AS in_b
  FROM (SELECT DISTINCT subj, pred, obj, obj_kind FROM ga)
  UNION ALL
  SELECT subj, pred, obj, obj_kind, 0, 1
  FROM (SELECT DISTINCT subj, pred, obj, obj_kind FROM gb)),
folded AS (
  SELECT subj, pred, obj, obj_kind,
         max(in_a) AS in_a, max(in_b) AS in_b
  FROM tagged GROUP BY 1, 2, 3, 4),
per_pred AS (
  SELECT pred,
    sum(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END)::BIGINT
      AS n_added,
    sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)::BIGINT
      AS n_removed,
    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT
      AS n_retained
  FROM folded GROUP BY pred)
SELECT pred, n_added, n_removed, n_retained,
  (n_added + n_removed)::DOUBLE
    / greatest(1, n_removed + n_retained) AS churn
FROM per_pred
ORDER BY pred
"""


# ---------------------------------------------------------------------------
# Semantic-versioning change classifier: the compat read on top of
# diff_graphs.  Ontology consumers break on removals and constraint
# changes, not on additions — the classifier splits a schema diff
# into breaking / additive / patch the way API semver reviews do
# (public practice, e.g. the OBO/ontology-release guidelines).
# ---------------------------------------------------------------------------

_SCHEMA_TYPES = (
    OWL.Class,
    OWL.ObjectProperty,
    OWL.DatatypeProperty,
    OWL.AnnotationProperty,
)


def breaking_changes(a: DataFrame, b: DataFrame) -> DataFrame:
    """(severity, category, resource, detail) — classify the a->b
    schema diff:

    * breaking: class/property declarations REMOVED, subClassOf edges
      removed, any rdfs:domain/range row removed or added on a
      property that exists in BOTH versions (constraint change)
    * additive: new class/property declarations, new subClassOf edges
    * patch: label/comment churn
    * info: anything else

    Scale shape: one :func:`sides` fold over the 4-column triple key,
    then one per-subject window over it marks the subjects present in
    both versions; the changed rows (on one side only) get a CASE
    classification — no join, no driver materialization."""
    from pyspark.sql import Window

    by_subj = Window.partitionBy("subj")
    ch = (
        sides(a, b, ["subj", "pred", "obj", "obj_kind"])
        .withColumn(
            "surviving",
            F.max("in_a").over(by_subj) & F.max("in_b").over(by_subj),
        )
        .filter(F.col("in_a") != F.col("in_b"))
    )
    is_decl = (F.col("pred") == RDF.type) & F.col("obj").isin(
        list(_SCHEMA_TYPES)
    )
    is_cls = (F.col("pred") == RDF.type) & (F.col("obj") == OWL.Class)
    is_sub = F.col("pred") == RDFS.subClassOf
    is_con = F.col("pred").isin([RDFS.domain, RDFS.range])
    is_ann = F.col("pred").isin([RDFS.label, RDFS.comment])
    surviving = F.col("surviving")
    rem = F.col("in_a")  # a changed row in the old version was removed
    category = (
        F.when(is_decl & rem & is_cls, "class_removed")
        .when(is_decl & rem, "property_removed")
        .when(is_decl & is_cls, "class_added")
        .when(is_decl, "property_added")
        .when(is_sub & rem, "subclass_edge_removed")
        .when(is_sub, "subclass_edge_added")
        .when(is_con & surviving, "constraint_changed")
        .when(is_con, "constraint_on_new_resource")
        .when(is_ann, "annotation_churn")
        .otherwise("other_change")
    )
    severity = (
        F.when(
            category.isin(
                "class_removed",
                "property_removed",
                "subclass_edge_removed",
                "constraint_changed",
            ),
            "breaking",
        )
        .when(
            category.isin(
                "class_added",
                "property_added",
                "subclass_edge_added",
                "constraint_on_new_resource",
            ),
            "additive",
        )
        .when(category == "annotation_churn", "patch")
        .otherwise("info")
    )
    return (
        ch.select(
            severity.alias("severity"),
            category.alias("category"),
            F.col("subj").alias("resource"),
            F.concat(
                F.when(rem, "removed: ").otherwise("added: "), F.col("obj")
            ).alias("detail"),
        )
        .orderBy("severity", "category", "resource", "detail")
    )


def breaking_changes_sql(cte_a: str, cte_b: str) -> str:
    """DuckDB twin; ``cte_a``/``cte_b`` name relations ``ta``/``tb``."""
    types = ", ".join(f"'{t}'" for t in _SCHEMA_TYPES)
    return f"""
WITH {cte_a},
{cte_b},
pa AS (SELECT DISTINCT subj, pred, obj, obj_kind FROM ta),
pb AS (SELECT DISTINCT subj, pred, obj, obj_kind FROM tb),
ch AS (
  SELECT *, 'removed' AS dirn FROM (SELECT * FROM pa EXCEPT ALL SELECT * FROM pb)
  UNION ALL
  SELECT *, 'added' FROM (SELECT * FROM pb EXCEPT ALL SELECT * FROM pa)),
survivors AS (
  SELECT subj AS bs FROM pa INTERSECT SELECT subj FROM pb),
cat AS (
  SELECT ch.*, s.bs,
    CASE
      WHEN pred = '{RDF.type}' AND obj = '{OWL.Class}' AND dirn = 'removed'
        THEN 'class_removed'
      WHEN pred = '{RDF.type}' AND obj IN ({types}) AND dirn = 'removed'
        THEN 'property_removed'
      WHEN pred = '{RDF.type}' AND obj = '{OWL.Class}' THEN 'class_added'
      WHEN pred = '{RDF.type}' AND obj IN ({types}) THEN 'property_added'
      WHEN pred = '{RDFS.subClassOf}' AND dirn = 'removed'
        THEN 'subclass_edge_removed'
      WHEN pred = '{RDFS.subClassOf}' THEN 'subclass_edge_added'
      WHEN pred IN ('{RDFS.domain}', '{RDFS.range}') AND s.bs IS NOT NULL
        THEN 'constraint_changed'
      WHEN pred IN ('{RDFS.domain}', '{RDFS.range}')
        THEN 'constraint_on_new_resource'
      WHEN pred IN ('{RDFS.label}', '{RDFS.comment}')
        THEN 'annotation_churn'
      ELSE 'other_change'
    END AS category
  FROM ch LEFT JOIN survivors s ON ch.subj = s.bs)
SELECT
  CASE WHEN category IN ('class_removed', 'property_removed',
        'subclass_edge_removed', 'constraint_changed') THEN 'breaking'
       WHEN category IN ('class_added', 'property_added',
        'subclass_edge_added', 'constraint_on_new_resource')
        THEN 'additive'
       WHEN category = 'annotation_churn' THEN 'patch'
       ELSE 'info' END AS severity,
  category, subj AS resource, dirn || ': ' || obj AS detail
FROM cat
ORDER BY severity, category, resource, detail"""


# ---------------------------------------------------------------------------
# Order-independent graph digest — distributed integrity checking
# ---------------------------------------------------------------------------


def graph_digest(triples: DataFrame) -> DataFrame:
    """One row ``(n_triples, digest)``: a set digest of the graph —
    XOR of a 60-bit md5 hash of every distinct triple's canonical row
    string.  XOR is commutative/associative, so the digest is
    independent of partitioning, row order, and parallelism: each
    partition folds locally and the partials combine map-side — the
    Merkle-style cheap equality check for snapshot/restore, checkpoint
    resume, replica comparison, and stream-vs-batch law tests (two
    graphs with equal ``(n_triples, digest)`` match with collision
    probability ~n^2/2^60).

    The hash is the portable md5-hex idiom (identical in DuckDB), the
    separator is a control char (chr 1) no term contains, and NULL
    lang/dt slots fold to '' — same canonicalization both engines."""
    sep = "\x01"
    row = F.concat_ws(
        sep,
        F.col("subj"), F.col("pred"), F.col("obj"), F.col("obj_kind"),
        F.coalesce(F.col("obj_lang"), F.lit("")),
        F.coalesce(F.col("obj_dt"), F.lit("")),
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    return (
        triples.select("subj", "pred", "obj", "obj_kind", "obj_lang", "obj_dt")
        .distinct()
        .select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.expr("bit_xor(h)").alias("digest"),
        )
    )


def graph_digest_sql(triples_cte: str = "triples") -> str:
    """DuckDB twin (identical row canonicalization and 60-bit hash)."""
    row = (
        "subj || chr(1) || pred || chr(1) || obj || chr(1) || obj_kind"
        " || chr(1) || coalesce(obj_lang, '') || chr(1) || coalesce(obj_dt, '')"
    )
    return f"""
d AS (SELECT DISTINCT subj, pred, obj, obj_kind, obj_lang, obj_dt
      FROM {triples_cte}),
h AS (SELECT ('0x' || substr(md5({row}), 1, 15))::BIGINT AS h FROM d)
SELECT count(*)::BIGINT AS n_triples, bit_xor(h)::BIGINT AS digest FROM h"""
