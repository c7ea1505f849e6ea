"""Mirrors the reference's set-semantics tests
(/root/reference/tests/test_merge.py, test_diff.py)."""

from __future__ import annotations

import pytest

from orionbelt_ontology_builder_spark.fixtures import (
    BASE,
    DIFF_A,
    DIFF_B,
    fixture_triples,
)
from orionbelt_ontology_builder_spark.model import RDFS
from orionbelt_ontology_builder_spark.operators import setops


@pytest.fixture(scope="module")
def diff_a(spark):
    return fixture_triples(spark, "diff_a").cache()


@pytest.fixture(scope="module")
def diff_b(spark):
    return fixture_triples(spark, "diff_b").cache()


def test_diff_self_is_empty(diff_a):
    d = setops.diff_summary(diff_a, diff_a).collect()[0]
    assert d["added"] == 0 and d["removed"] == 0
    assert d["unchanged"] == len(DIFF_A)


def test_diff_added_removed(diff_a, diff_b):
    d = setops.diff_summary(diff_a, diff_b).collect()[0]
    # B adds: label Human, Cat type, Cat subClassOf = 3
    # B removes (missing from B): label Person, Dog type, Dog subClassOf = 3
    assert d["added"] == 3
    assert d["removed"] == 3
    assert d["unchanged"] == len(DIFF_A) - 3


def test_classify_resources(diff_a, diff_b):
    c = {r["resource"]: r["change"] for r in setops.classify_resources(diff_a, diff_b).collect()}
    assert c[BASE + "Person"] == "modified"
    assert c[BASE + "Cat"] == "added"
    assert c[BASE + "Dog"] == "removed"


def test_diff_is_set_valued_when_other_repeats_a_row(spark, diff_a):
    """rdflib graphs are sets: a row ``other`` states twice (here the
    NULL-slotted label literal) is one unchanged triple, not an added
    one, and its subject is not classified."""
    from orionbelt_ontology_builder_spark.model import TRIPLES_SCHEMA

    other = diff_a.unionByName(spark.createDataFrame([DIFF_A[2]], TRIPLES_SCHEMA))
    d = setops.diff_summary(diff_a, other).collect()[0]
    assert (d["added"], d["removed"]) == (0, 0)
    assert d["unchanged"] == len(DIFF_A)
    assert setops.diff_graphs(diff_a, other)["added"].count() == 0
    assert setops.classify_resources(diff_a, other).count() == 0


def test_merge_union_dedup(diff_a, diff_b):
    merged = setops.merge_graphs(diff_a, diff_a, setops.MERGE)
    assert merged.count() == len(DIFF_A)
    merged2 = setops.merge_graphs(diff_a, diff_b, setops.MERGE)
    assert merged2.count() == len(DIFF_A) + 3


def test_merge_empty_noop(spark, diff_a):
    from orionbelt_ontology_builder_spark.model import empty_triples

    merged = setops.merge_graphs(diff_a, empty_triples(spark), setops.MERGE)
    assert merged.count() == len(DIFF_A)


def test_merge_replace(diff_a, diff_b):
    assert setops.merge_graphs(diff_a, diff_b, setops.REPLACE).count() == len(DIFF_B)


def test_merge_overwrite_conflict_resolution(diff_a, diff_b):
    merged = setops.merge_graphs(diff_a, diff_b, setops.MERGE_OVERWRITE)
    labels = (
        merged.filter(
            (merged.subj == BASE + "Person") & (merged.pred == RDFS.label)
        )
        .select("obj")
        .collect()
    )
    assert [r["obj"] for r in labels] == ["Human"]  # incoming wins


def test_detect_conflicts(diff_a, diff_b):
    rows = setops.detect_conflicts(diff_a, diff_b).collect()
    assert len(rows) == 1
    assert rows[0]["subj"] == BASE + "Person"
    assert rows[0]["current_value"] == "Person"
    assert rows[0]["incoming_value"] == "Human"


def test_preview_is_pure(diff_a, diff_b):
    before = diff_a.count()
    p = setops.preview_import(diff_a, diff_b)
    p["summary"].collect()
    p["conflicts"].collect()
    assert diff_a.count() == before


# ------------------------------------------------------------------ #
# diff reports (reference test_diff.py: markdown headings, text format,
# bnode counted-not-surfaced)
# ------------------------------------------------------------------ #


def _report(df) -> str:
    return "\n".join(r["line"] for r in df.collect())


def test_markdown_report_has_headings(diff_a, diff_b):
    rep = _report(setops.format_diff_report(diff_a, diff_b, "markdown"))
    assert "# Ontology Change Report" in rep
    assert "## Summary" in rep
    assert "## Added Resources" in rep
    assert "### Cat" in rep
    assert "- + type: Class" in rep


def test_text_report_format(diff_a, diff_b):
    rep = _report(setops.format_diff_report(diff_a, diff_b, "text"))
    assert "Ontology Change Report" in rep
    assert "=" * 40 in rep
    assert "  Added class Cat" in rep


def test_text_report_identical_graphs(diff_a):
    rep = _report(setops.format_diff_report(diff_a, diff_a, "text"))
    assert "Added: 0 triples, Removed: 0 triples, Modified: 0 resources" in rep


def test_summarize_changes_lines(diff_a, diff_b):
    lines = [r["line"] for r in setops.summarize_changes(diff_a, diff_b).collect()]
    assert "Added class Cat" in lines
    assert "Removed class Dog" in lines
    assert any(l.startswith("Modified resource Person: ") for l in lines)


def test_bnode_triples_counted_but_not_surfaced(spark, diff_a):
    from orionbelt_ontology_builder_spark.model import (
        OWL, RDF, TRIPLES_SCHEMA, t_uri,
    )

    extra = [
        ("_:r1", RDF.type, OWL.Restriction, "uri", None, None),
        ("_:r1", OWL.onProperty, BASE + "hasFriend", "uri", None, None),
        # named subject referencing the bnode IS surfaced (reference
        # filters BNode subjects only, ontology_manager.py:2427-2430)
        t_uri(BASE + "Person", RDFS.subClassOf, "_:r1"),
    ]
    other = diff_a.unionByName(spark.createDataFrame(extra, TRIPLES_SCHEMA))
    stats = setops.diff_summary(diff_a, other).collect()[0]
    assert stats["added_bnode"] == 2
    assert stats["added"] == 1  # the named subClassOf row
    det = setops.diff_modified_resources(diff_a, other).collect()
    assert all(not r["name"].startswith("_:") for r in det)
    assert any(
        r["name"] == "Person" and r["predicate"] == "subClassOf" for r in det
    )
    # both reports carry the anonymous-node line
    md = _report(setops.format_diff_report(diff_a, other, "markdown"))
    assert "- **Anonymous nodes:** 2 added, 0 removed" in md
    txt = _report(setops.format_diff_report(diff_a, other, "text"))
    assert "2 anonymous node triples added, 0 removed" in txt


def test_summary_modified_details_capped_at_three(spark, diff_a):
    from orionbelt_ontology_builder_spark.model import TRIPLES_SCHEMA

    from pyspark.sql import functions as F

    extra = [
        (BASE + "Person", BASE + f"p{i}", f"v{i}", "literal", None, None)
        for i in range(5)
    ]
    # drop Person's label so the resource is both-added-and-removed
    # (the reference classifies 'modified' only when both sets touch it)
    other = diff_a.filter(
        ~((F.col("subj") == BASE + "Person") & (F.col("pred") == RDFS.label))
    ).unionByName(spark.createDataFrame(extra, TRIPLES_SCHEMA))
    lines = [
        r["line"] for r in setops.summarize_changes(diff_a, other).collect()
    ]
    mod = next(l for l in lines if l.startswith("Modified"))
    assert "(+3 more)" in mod  # 6 details (5 added + 1 removed), 3 shown
    assert mod.count(";") == 2  # three details shown


def test_preview_import_surfaces_incoming_stats_and_meta(diff_a, diff_b):
    prev = setops.preview_import(diff_a, diff_b)
    stats = prev["incoming_stats"].collect()[0]
    assert stats["classes"] >= 2  # Cat + Person (+Animal)
    meta_cols = set(prev["incoming_meta"].columns)
    assert "uri" in meta_cols or "ontology_uri" in meta_cols


@pytest.mark.parametrize(
    "build",
    [
        lambda a, b: setops.preview_import(a, b),
        lambda a, b: setops.format_diff_report(a, b, "markdown"),
        lambda a, b: setops.format_diff_report(a, b, "text"),
        lambda a, b: setops.summarize_changes(a, b),
    ],
    ids=["preview_import", "report_markdown", "report_text", "summarize_changes"],
)
def test_composite_reports_fold_once(monkeypatch, diff_a, diff_b, build):
    """Each composite report builds one ``sides`` fold of the two
    graphs and every part reads it."""
    calls = []
    fold = setops.sides

    def counted(*args, **kwargs):
        calls.append(args[2])
        return fold(*args, **kwargs)

    monkeypatch.setattr(setops, "sides", counted)
    out = build(diff_a, diff_b)
    for df in out.values() if isinstance(out, dict) else [out]:
        df.collect()
    assert len(calls) == 1, calls


def test_latest_wins_freshest_then_source_tiebreak(spark):
    import datetime as dt
    from orionbelt_ontology_builder_spark.operators import setops as S

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    quads = spark.createDataFrame(
        [
            ("e1", "status", "old", "src_z", t0),
            ("e1", "status", "new", "src_a", t1),   # freshest wins
            ("e2", "status", "a", "src_1", t0),
            ("e2", "status", "b", "src_2", t0),     # ts tie: max source
            ("e3", "status", "only", "src_1", t0),
        ],
        "subj string, pred string, obj string, source string, ts timestamp",
    )
    out = {r["subj"]: r for r in S.latest_wins(quads).collect()}
    assert out["e1"]["obj"] == "new" and out["e1"]["source"] == "src_a"
    assert out["e1"]["n_versions"] == 2 and out["e1"]["n_sources"] == 2
    assert out["e2"]["obj"] == "b" and out["e2"]["source"] == "src_2"
    assert out["e3"]["n_versions"] == 1


def test_triple_churn_classification(spark):
    from pyspark.sql import Row
    from orionbelt_ontology_builder_spark.operators import setops as S

    def g(rows):
        return spark.createDataFrame(
            [Row(subj=s, pred=p, obj=o, obj_kind="uri") for s, p, o in rows]
        )

    a = g([("s1", "p", "x"), ("s2", "p", "y"), ("s3", "q", "z")])
    b = g([("s1", "p", "x"), ("s4", "p", "w"), ("s4", "p", "w")])  # dup
    out = {r["pred"]: r for r in S.triple_churn(a, b).collect()}
    p = out["p"]
    assert (p["n_added"], p["n_removed"], p["n_retained"]) == (1, 1, 1)
    assert abs(p["churn"] - 1.0) < 1e-12  # (1+1)/2 old triples
    q = out["q"]
    assert (q["n_added"], q["n_removed"], q["n_retained"]) == (0, 1, 0)


def test_breaking_changes_classification(spark, diff_a, diff_b):
    from orionbelt_ontology_builder_spark.fixtures import BASE
    from orionbelt_ontology_builder_spark.model import (
        OWL, RDF, RDFS, TRIPLES_SCHEMA, t_uri,
    )
    from orionbelt_ontology_builder_spark.operators import setops

    extra_a = spark.createDataFrame([
        t_uri(BASE + "hasOwner", RDF.type, OWL.ObjectProperty),
        t_uri(BASE + "hasOwner", RDFS.domain, BASE + "Dog"),
    ], TRIPLES_SCHEMA)
    extra_b = spark.createDataFrame([
        t_uri(BASE + "hasOwner", RDF.type, OWL.ObjectProperty),
        t_uri(BASE + "hasOwner", RDFS.domain, BASE + "Animal"),
        t_uri(BASE + "hasAge", RDF.type, OWL.DatatypeProperty),
    ], TRIPLES_SCHEMA)
    rows = setops.breaking_changes(
        diff_a.unionByName(extra_a), diff_b.unionByName(extra_b)
    ).collect()
    got = {(r["category"], r["resource"]): r["severity"] for r in rows}
    assert got[("class_removed", BASE + "Dog")] == "breaking"
    assert got[("subclass_edge_removed", BASE + "Dog")] == "breaking"
    assert got[("class_added", BASE + "Cat")] == "additive"
    assert got[("subclass_edge_added", BASE + "Cat")] == "additive"
    # hasOwner survives both versions: domain swap = 2 breaking rows
    cc = [r for r in rows if r["category"] == "constraint_changed"]
    assert len(cc) == 2 and all(r["severity"] == "breaking" for r in cc)
    assert got[("property_added", BASE + "hasAge")] == "additive"
    # label churn on Person is patch-level
    assert got[("annotation_churn", BASE + "Person")] == "patch"
