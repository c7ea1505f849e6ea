"""Mirrors /root/reference/tests/test_validation.py + test_skos.py rules."""

from __future__ import annotations

import pytest

from orionbelt_ontology_builder_spark.fixtures import BASE, fixture_triples
from orionbelt_ontology_builder_spark.model import (
    SCHEMA_NS,
    SKOS,
    TRIPLES_SCHEMA,
    OWL,
    RDF,
    RDFS,
    t_lit,
    t_uri,
)
from orionbelt_ontology_builder_spark.operators import validation


@pytest.fixture(scope="module")
def issues(spark):
    df = validation.validate(fixture_triples(spark, "validation_om"))
    return [(r["issue_type"], r["subject"]) for r in df.collect()]


def test_missing_label(issues):
    assert ("missing_label", BASE + "NoLabel") in issues


def test_orphan_class(issues):
    assert ("orphan_class", BASE + "Orphan") in issues
    assert ("orphan_class", BASE + "Person") not in issues


def test_untyped_individual(issues):
    assert ("untyped_individual", BASE + "ghost") in issues
    assert ("untyped_individual", BASE + "alice") not in issues


def test_duplicate_label(issues):
    assert ("duplicate_label", BASE + "DupA") in issues
    assert ("duplicate_label", BASE + "DupB") in issues


def test_domain_mismatch(issues):
    # acme (an Organization) used with worksFor whose domain is Person
    assert ("domain_mismatch", BASE + "acme") in issues
    # range side: worksFor range Organization, object is :Person (a class,
    # not typed under Organization closure) -> range_mismatch on Person
    assert ("range_mismatch", BASE + "Person") in issues


def test_clean_graph_has_no_errors(spark, populated_om):
    df = validation.validate(populated_om)
    errors = df.filter(df.severity == "error").collect()
    assert errors == []


def test_domain_includes_fallback_not_flagged(spark):
    # reference tests/test_validation.py:34-62 — schema:domainIncludes
    # counts as a domain
    rows = [
        t_uri(BASE + "p", RDF.type, OWL.ObjectProperty),
        t_uri(BASE + "p", SCHEMA_NS + "domainIncludes", BASE + "C"),
        t_uri(BASE + "p", RDFS.range, BASE + "C"),
    ]
    df = validation.validate(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    types = {r["issue_type"] for r in df.collect()}
    assert "missing_domain" not in types


def test_skos_clean(skos_om):
    df = validation.validate_skos(skos_om)
    assert df.filter(df.severity == "error").count() == 0
    assert (
        df.filter(df.issue_type == "missing_prefLabel").count() == 0
    )


def test_skos_negative(spark, skos_om):
    extra = spark.createDataFrame(
        [
            t_uri(BASE + "NoPref", RDF.type, SKOS.Concept),
            t_uri(BASE + "X", SKOS.broader, BASE + "Y"),
            t_uri(BASE + "Y", SKOS.broader, BASE + "X"),
        ],
        TRIPLES_SCHEMA,
    )
    df = validation.validate_skos(skos_om.unionByName(extra))
    got = {(r["issue_type"], r["subject"]) for r in df.collect()}
    assert ("missing_prefLabel", BASE + "NoPref") in got
    assert ("broader_cycle", BASE + "X") in got
    assert ("broader_cycle", BASE + "Y") in got


#: the edges of the presence rules, each a case no fixture covers: an
#: unlabelled bnode class, a class named only as a someValuesFrom
#: filler, a class used only as an individual's type, a typed
#: NamedIndividual, a range-only property and a concept outside any
#: scheme (with no ConceptScheme declared)
_BOUNDARY = [
    t_uri("_:r", RDF.type, OWL.Class),
    t_uri("_:r", OWL.someValuesFrom, BASE + "Filler"),
    t_uri(BASE + "Filler", RDF.type, OWL.Class),
    t_lit(BASE + "Filler", RDFS.label, "Filler"),
    t_uri(BASE + "Kind", RDF.type, OWL.Class),
    t_lit(BASE + "Kind", RDFS.label, "Kind"),
    t_uri(BASE + "ind", RDF.type, OWL.NamedIndividual),
    t_uri(BASE + "ind", RDF.type, BASE + "Kind"),
    t_uri(BASE + "ghost", RDF.type, OWL.NamedIndividual),
    t_uri(BASE + "rangeOnly", RDF.type, OWL.ObjectProperty),
    t_uri(BASE + "rangeOnly", SCHEMA_NS + "rangeIncludes", BASE + "Target"),
    t_uri(BASE + "Target", RDF.type, OWL.Class),
    t_lit(BASE + "Target", RDFS.label, "Target"),
    t_uri(BASE + "Lonely", RDF.type, OWL.Class),
    t_uri(BASE + "c", RDF.type, SKOS.Concept),
    t_lit(BASE + "c", SKOS.prefLabel, "c"),
    t_uri(BASE + "d", RDF.type, SKOS.Concept),
    t_lit(BASE + "d", SKOS.prefLabel, "d"),
    t_uri(BASE + "d", SKOS.inScheme, BASE + "S"),
]


def test_presence_rule_boundaries(spark):
    g = spark.createDataFrame(_BOUNDARY, TRIPLES_SCHEMA)

    def got(df):
        return {(r["issue_type"], r["subject"]) for r in df.collect()}

    assert got(validation.validate(g)) == {
        ("missing_label", BASE + "Lonely"),
        ("orphan_class", BASE + "Lonely"),
        ("untyped_individual", BASE + "ghost"),
        ("missing_domain", BASE + "rangeOnly"),
    }
    # d names a scheme, but no ConceptScheme is declared: no gate
    assert got(validation.validate_skos(g)) == set()
    scheme = spark.createDataFrame(
        [t_uri(BASE + "S", RDF.type, SKOS.ConceptScheme)], TRIPLES_SCHEMA
    )
    assert got(validation.validate_skos(g.unionByName(scheme))) == {
        ("not_in_scheme", BASE + "c"),
    }


def test_shacl_min_max_targets_subclasses(spark):
    """A Person shape targets alice (typed Employee only): hasName
    minCount 1 fires with n=0; rdf:type maxCount 1 fires with n=2;
    a satisfied Organization label shape emits nothing."""
    shapes = spark.createDataFrame(
        [
            (BASE + "Person", BASE + "hasName", 1, None),
            (BASE + "Person", RDF.type, 1, 1),
            (BASE + "Organization", RDFS.label, 1, 1),
        ],
        "cls string, prop string, min_count long, max_count long",
    )
    out = validation.shacl_min_max(
        fixture_triples(spark, "populated_om"), shapes
    ).collect()
    got = {(r["focus"], r["prop"], r["violation"], r["n_values"])
           for r in out}
    assert got == {
        (BASE + "alice", BASE + "hasName", "minCount", 0),
        (BASE + "alice", RDF.type, "maxCount", 2),
    }


def test_shacl_min_max_unbounded_max(spark):
    """max_count NULL never fires maxCount, whatever the count."""
    shapes = spark.createDataFrame(
        [(OWL.Class, RDF.type, 1, None)],
        "cls string, prop string, min_count long, max_count long",
    )
    # every declared class has exactly one rdf:type owl:Class triple
    out = validation.shacl_min_max(
        fixture_triples(spark, "populated_om"), shapes
    ).collect()
    assert out == []


# --------------------------------------------------------------------- #
# owl_consistency (OWL 2 RL false-rules)
# --------------------------------------------------------------------- #


def test_owl_consistency_one_hit_per_rule(spark):
    from orionbelt_ontology_builder_spark.operators.validation import (
        owl_consistency,
    )

    out = owl_consistency(fixture_triples(spark, "consistency_om")).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["issue_type"], []).append(r)
    assert {k: len(v) for k, v in by_type.items()} == {
        "disjoint_classes": 1,
        "asymmetric_violation": 1,
        "irreflexive_violation": 1,
        "disjoint_properties": 1,
        "same_and_different": 1,
        "nothing_member": 1,
    }
    assert all(r["severity"] == "error" for r in out)
    # closure-awareness: bob is flagged through Employee -> Person, not
    # a direct Person typing
    dj = by_type["disjoint_classes"][0]
    assert dj["subject"].endswith("#bob")
    assert "Organization" in dj["message"] and "Person" in dj["message"]


def test_owl_consistency_clean_graph_is_empty(spark):
    from orionbelt_ontology_builder_spark.operators.validation import (
        owl_consistency,
    )

    assert owl_consistency(fixture_triples(spark, "populated_om")).count() == 0


def test_owl_consistency_symmetric_statement_directions(spark):
    """eq-diff1 fires regardless of which direction either predicate
    was stated in; asymmetric violation reported once per pair."""
    from orionbelt_ontology_builder_spark.model import OWL, t_uri
    from orionbelt_ontology_builder_spark.operators.validation import (
        owl_consistency,
    )

    B = "http://test.org/ont#"
    rows = [
        t_uri(B + "a", OWL.sameAs, B + "b"),
        t_uri(B + "a", OWL.differentFrom, B + "b"),  # same direction now
    ]
    df = spark.createDataFrame(rows, fixture_triples(spark, "populated_om").schema)
    out = owl_consistency(df).collect()
    assert [(r["issue_type"], r["subject"]) for r in out] == [
        ("same_and_different", B + "a")
    ]


# ------------------------------------------------------------------ #
# XSD lexical-form validation + reification decode
# ------------------------------------------------------------------ #


def test_validate_literals_flags_only_malformed(spark):
    from orionbelt_ontology_builder_spark import fixtures as FX
    from orionbelt_ontology_builder_spark.operators import validation

    rows = validation.validate_literals(
        FX.fixture_triples(spark, "badlits_om")
    ).collect()
    # exactly the six malformed literals, all on the :bad subject
    assert len(rows) == 6
    assert all(r["subject"] == FX.BASE + "bad" for r in rows)
    assert {r["value"] for r in rows} == {
        "forty", "1.75m", "yes", "1990-13-40", "yesterday", ".",
    }
    assert all(r["issue_type"] == "malformed_literal" for r in rows)


def test_decode_reification_both_styles(spark):
    from orionbelt_ontology_builder_spark import fixtures as FX
    from orionbelt_ontology_builder_spark.operators import lists

    rows = {r["stmt"]: r for r in lists.decode_reification(
        FX.fixture_triples(spark, "reified_om")
    ).collect()}
    assert set(rows) == {"_:st1", FX.BASE + "ax1"}  # st2/st3 dropped
    st1 = rows["_:st1"]
    assert st1["style"] == "rdf"
    assert (st1["t_subj"], st1["t_obj"]) == (FX.BASE + "alice", FX.BASE + "bob")
    assert st1["t_obj_kind"] == "uri" and st1["n_annotations"] == 2
    ax1 = rows[FX.BASE + "ax1"]
    assert ax1["style"] == "owl" and ax1["n_annotations"] == 1
    assert ax1["t_pred"].endswith("subClassOf")


def test_mine_shapes_share_and_gates(spark):
    from orionbelt_ontology_builder_spark.model import (
        RDF, t_lit, t_uri, triples_df,
    )
    from orionbelt_ontology_builder_spark.operators import validation

    rows = []
    for i in range(10):
        rows.append(t_uri(f"p{i}", RDF.type, "Person"))
        rows.append(t_lit(f"p{i}", "name", f"n{i}"))
    for i in range(9):
        rows.append(t_lit(f"p{i}", "email", f"e{i}"))  # 9/10 = 0.9
    for i in range(3):
        rows.append(t_lit(f"p{i}", "nickname", f"nick{i}"))  # 0.3
    rows.append(t_uri("solo", RDF.type, "Hermit"))
    rows.append(t_lit("solo", "cave", "deep"))  # support 1 -> gated
    out = {(r["cls"], r["pred"]): r for r in validation.mine_shapes(
        triples_df(spark, rows)
    ).collect()}
    assert out[("Person", "name")]["suggest_min1"] is True
    assert out[("Person", "email")]["suggest_min1"] is True  # boundary 0.9
    assert out[("Person", "nickname")]["suggest_min1"] is False
    assert out[("Hermit", "cave")]["suggest_min1"] is False  # min_instances


# ------------------------------------------------------------------ #
# OWL 2 RL profile conformance
# ------------------------------------------------------------------ #


def _rl_rows(spark, extra):
    from orionbelt_ontology_builder_spark.model import local_df

    df = validation.owl_rl_profile(local_df(spark, extra, TRIPLES_SCHEMA))
    return {(r["node"], r["construct"], r["position"]) for r in df.collect()}


def test_owl_rl_profile_fixture_findings(spark):
    df = validation.owl_rl_profile(fixture_triples(spark, "clsexpr_om"))
    got = {(r["node"], r["construct"], r["position"]) for r in df.collect()}
    assert got == {
        ("_:r1", "someValuesFrom", "subclass_rhs"),
        ("_:r2", "minCardinality", "subclass_rhs"),
        (BASE + "Agent", "unionOf", "class_definition"),
        (BASE + "Agent", "disjointUnionOf", "class_definition"),
    }


def test_owl_rl_profile_lhs_somevalues_allowed(spark):
    # the SAME restriction construct is legal on the subclass LHS
    rows = [
        t_uri("_:s1", RDF.type, OWL.Restriction),
        t_uri("_:s1", OWL.onProperty, BASE + "p"),
        t_uri("_:s1", OWL.someValuesFrom, BASE + "C"),
        t_uri("_:s1", RDFS.subClassOf, BASE + "D"),
    ]
    assert _rl_rows(spark, rows) == set()


def test_owl_rl_profile_max_cardinality_value_split(spark):
    from orionbelt_ontology_builder_spark.model import XSD, t_bnode

    rows = [
        t_lit("_:m1", OWL.maxCardinality, "1", dt=XSD.nonNegativeInteger),
        t_bnode(BASE + "A", RDFS.subClassOf, "_:m1"),
        t_lit("_:m2", OWL.maxQualifiedCardinality, "2",
              dt=XSD.nonNegativeInteger),
        t_bnode(BASE + "B", RDFS.subClassOf, "_:m2"),
    ]
    got = _rl_rows(spark, rows)
    assert got == {("_:m2", "maxCardinality_ge2", "subclass_rhs")}


def test_owl_rl_profile_complement_side_split(spark):
    # complementOf: legal as a superclass, illegal as a subclass LHS
    # and inside an equivalence
    from orionbelt_ontology_builder_spark.model import t_bnode

    rows = [
        t_uri("_:c1", OWL.complementOf, BASE + "C"),
        t_bnode(BASE + "A", RDFS.subClassOf, "_:c1"),
        t_uri("_:c2", OWL.complementOf, BASE + "C"),
        t_uri("_:c2", RDFS.subClassOf, BASE + "D"),
        t_uri("_:c3", OWL.complementOf, BASE + "C"),
        t_bnode(BASE + "E", OWL.equivalentClass, "_:c3"),
    ]
    got = _rl_rows(spark, rows)
    assert got == {
        ("_:c2", "complementOf", "subclass_lhs"),
        ("_:c3", "complementOf", "equivalent"),
    }
