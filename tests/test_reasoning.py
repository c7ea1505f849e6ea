from __future__ import annotations

import pytest

from orionbelt_ontology_builder_spark.fixtures import BASE, fixture_triples
from orionbelt_ontology_builder_spark.model import (
    OWL,
    RDF,
    RDFS,
    TRIPLES_SCHEMA,
    t_uri,
)
from orionbelt_ontology_builder_spark.operators.reasoning import apply_reasoning


def _has(df, s, p, o):
    return (
        df.filter((df.subj == s) & (df.pred == p) & (df.obj == o)).count() == 1
    )


def test_type_propagation_and_domain(spark, populated_om):
    extra = spark.createDataFrame(
        [t_uri(BASE + "alice", BASE + "worksFor", BASE + "acme")], TRIPLES_SCHEMA
    )
    expanded, n = apply_reasoning(populated_om.unionByName(extra))
    # rdfs9: alice is Employee, Employee subClassOf Person -> alice a Person
    assert _has(expanded, BASE + "alice", RDF.type, BASE + "Person")
    # rdfs2: worksFor domain Person -> alice a Person (same), rdfs3: acme a Organization (already)
    assert n > 0


def test_subclass_transitivity(spark):
    rows = [
        t_uri(BASE + "A", RDFS.subClassOf, BASE + "B"),
        t_uri(BASE + "B", RDFS.subClassOf, BASE + "C"),
        t_uri(BASE + "C", RDFS.subClassOf, BASE + "D"),
    ]
    expanded, n = apply_reasoning(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    assert _has(expanded, BASE + "A", RDFS.subClassOf, BASE + "D")
    assert n == 3  # A->C, A->D, B->D


def test_inverse_and_symmetric(spark):
    rows = [
        t_uri(BASE + "hasPart", OWL.inverseOf, BASE + "partOf"),
        t_uri(BASE + "x", BASE + "hasPart", BASE + "y"),
        t_uri(BASE + "knows", RDF.type, OWL.SymmetricProperty),
        t_uri(BASE + "a", BASE + "knows", BASE + "b"),
    ]
    expanded, _ = apply_reasoning(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    assert _has(expanded, BASE + "y", BASE + "partOf", BASE + "x")
    assert _has(expanded, BASE + "b", BASE + "knows", BASE + "a")


def test_transitive_property_and_sameas(spark):
    rows = [
        t_uri(BASE + "ancestorOf", RDF.type, OWL.TransitiveProperty),
        t_uri(BASE + "a", BASE + "ancestorOf", BASE + "b"),
        t_uri(BASE + "b", BASE + "ancestorOf", BASE + "c"),
        t_uri(BASE + "e1", OWL.sameAs, BASE + "e2"),
        t_uri(BASE + "e2", OWL.sameAs, BASE + "e3"),
    ]
    expanded, _ = apply_reasoning(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    assert _has(expanded, BASE + "a", BASE + "ancestorOf", BASE + "c")
    assert _has(expanded, BASE + "e3", OWL.sameAs, BASE + "e1")
    assert _has(expanded, BASE + "e1", OWL.sameAs, BASE + "e3")


def test_reasoning_idempotent(populated_om):
    once, n1 = apply_reasoning(populated_om)
    twice, n2 = apply_reasoning(once)
    assert n2 == 0
    assert twice.count() == once.count()


from orionbelt_ontology_builder_spark.operators import reasoning  # noqa: E402

B = BASE


def test_sameas_closure_via_components(spark):
    """A 4-member sameAs chain closes to all 12 ordered pairs — computed
    through connected_components, not a pairwise fixpoint."""
    rows = [
        t_uri(B + "a", OWL.sameAs, B + "b"),
        t_uri(B + "b", OWL.sameAs, B + "c"),
        t_uri(B + "c", OWL.sameAs, B + "d"),
    ]
    t = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    out, n = reasoning.apply_reasoning(t)
    pairs = {
        (r["subj"], r["obj"])
        for r in out.filter(out.pred == OWL.sameAs).collect()
    }
    members = [B + x for x in "abcd"]
    want = {(x, y) for x in members for y in members if x != y}
    assert want <= pairs


def test_owlrl_equivalent_class_types(spark):
    rows = [
        t_uri(B + "C1", RDF.type, OWL.Class),
        t_uri(B + "C2", RDF.type, OWL.Class),
        t_uri(B + "C1", OWL.equivalentClass, B + "C2"),
        t_uri(B + "x", RDF.type, B + "C1"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    types = {
        r["obj"] for r in out.filter(
            (out.subj == B + "x") & (out.pred == RDF.type)
        ).collect()
    }
    assert B + "C2" in types
    # declaration symmetry
    assert out.filter(
        (out.subj == B + "C2") & (out.pred == OWL.equivalentClass)
        & (out.obj == B + "C1")
    ).count() == 1


def test_owlrl_equivalent_property_assertions(spark):
    rows = [
        t_uri(B + "p", OWL.equivalentProperty, B + "q"),
        t_uri(B + "s", B + "p", B + "o"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    assert out.filter(
        (out.subj == B + "s") & (out.pred == B + "q") & (out.obj == B + "o")
    ).count() == 1


def test_owlrl_eq_rep_substitution(spark):
    rows = [
        t_uri(B + "a", OWL.sameAs, B + "b"),
        t_uri(B + "a", B + "knows", B + "z"),
        t_uri(B + "y", B + "knows", B + "a"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "b", B + "knows", B + "z") in got       # eq-rep-s
    assert (B + "y", B + "knows", B + "b") in got       # eq-rep-o


def test_rdfs_profile_does_not_substitute(spark):
    rows = [
        t_uri(B + "a", OWL.sameAs, B + "b"),
        t_uri(B + "a", B + "knows", B + "z"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="rdfs"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "b", B + "knows", B + "z") not in got
    assert (B + "b", OWL.sameAs, B + "a") in got        # closure still on


def test_differential_vs_owlrl_if_available(spark, populated_om):
    """Differential check against the reference's actual reasoner.
    owlrl is not shipped in this container (the reference declares it;
    our env bakes only the listed packages) — skips when absent, runs
    on hosts that have it."""
    owlrl = pytest.importorskip("owlrl")
    rdflib = pytest.importorskip("rdflib")
    g = rdflib.Graph()
    for r in populated_om.collect():
        s = rdflib.BNode(r["subj"][2:]) if r["subj"].startswith("_:") else rdflib.URIRef(r["subj"])
        p = rdflib.URIRef(r["pred"])
        if r["obj_kind"] == "uri":
            o = rdflib.URIRef(r["obj"])
        elif r["obj_kind"] == "bnode":
            o = rdflib.BNode(r["obj"][2:])
        else:
            o = rdflib.Literal(r["obj"], lang=r["obj_lang"], datatype=r["obj_dt"])
        g.add((s, p, o))
    owlrl.DeductiveClosure(owlrl.RDFS_Semantics).expand(g)
    ref = {
        (str(s), str(p), str(o))
        for s, p, o in g
        if not isinstance(o, rdflib.Literal)
    }
    out, _ = reasoning.apply_reasoning(populated_om)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in out.filter(out.obj_kind == "uri").collect()
    }
    # our rule subset must be sound wrt owlrl (subset of its closure on
    # the axiomatic-triple-free slice)
    axiomatic = {t for t in ref if t not in got}
    assert got <= ref or not axiomatic


# ------------------------------------------------------------------ #
# owl-rl identity rules: prp-fp / prp-ifp / cls-hv1 / cls-hv2
# ------------------------------------------------------------------ #


def test_prp_fp_functional_property_merges_objects(spark):
    rows = [
        t_uri(B + "hasSpouse", RDF.type, OWL.FunctionalProperty),
        t_uri(B + "bob", B + "hasSpouse", B + "carol"),
        t_uri(B + "bob", B + "hasSpouse", B + "caroline"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "carol", OWL.sameAs, B + "caroline") in got
    assert (B + "caroline", OWL.sameAs, B + "carol") in got  # closed
    # eq-rep: the substituted assertion appears too
    assert (B + "bob", B + "hasSpouse", B + "carol") in got


def test_prp_ifp_shared_literal_key_merges_subjects(spark):
    rows = [
        t_uri(B + "hasEmail", RDF.type, OWL.InverseFunctionalProperty),
        (B + "u1", B + "hasEmail", "x@y.org", "literal", None, None),
        (B + "u2", B + "hasEmail", "x@y.org", "literal", None, None),
        # different lang tag => NOT the same value, no merge
        (B + "u3", B + "hasEmail", "x@y.org", "literal", "en", None),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "u1", OWL.sameAs, B + "u2") in got
    assert (B + "u1", OWL.sameAs, B + "u3") not in got
    assert (B + "u2", OWL.sameAs, B + "u3") not in got


def test_cls_hasvalue_both_directions(spark):
    rows = [
        ("_:r", OWL.onProperty, B + "hasStatus", "uri", None, None),
        ("_:r", OWL.hasValue, "active", "literal", None, None),
        t_uri(B + "Activated", RDFS.subClassOf, "_:r"),
        t_uri(B + "d1", RDF.type, B + "Activated"),
        (B + "d2", B + "hasStatus", "active", "literal", None, None),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "d1", B + "hasStatus", "active") in got   # cls-hv1 via rdfs9
    assert (B + "d2", RDF.type, "_:r") in got             # cls-hv2
    # the hv1 derivation keeps the value's literal kind
    kinds = {
        r["obj_kind"]
        for r in out.filter(
            (out.subj == B + "d1") & (out.pred == B + "hasStatus")
        ).collect()
    }
    assert kinds == {"literal"}


def test_rdfs_profile_skips_owl_identity_rules(spark):
    rows = [
        t_uri(B + "hasSpouse", RDF.type, OWL.FunctionalProperty),
        t_uri(B + "bob", B + "hasSpouse", B + "carol"),
        t_uri(B + "bob", B + "hasSpouse", B + "caroline"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="rdfs"
    )
    assert out.filter(out.pred == OWL.sameAs).count() == 0


@pytest.mark.parametrize("profile", ["owl_rl", "OWL-RL"])
def test_unknown_profile_rejected_before_any_job(spark, profile):
    """A misspelt profile must raise, not silently run the rdfs rules."""
    df = spark.createDataFrame(
        [t_uri(B + "A", RDFS.subClassOf, B + "B")], TRIPLES_SCHEMA
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="profile"):
        reasoning.apply_reasoning(df, profile=profile)
    assert set(tracker.getJobIdsForGroup(None)) <= before


def test_functional_declaration_derived_mid_fixpoint(spark):
    """prp-fp must fire even when the FunctionalProperty typing is only
    DERIVED during the fixpoint (rdfs9 through a subclass of
    owl:FunctionalProperty) — guards the per-round schema re-probe."""
    rows = [
        t_uri(B + "KeyProp", RDFS.subClassOf, OWL.FunctionalProperty),
        t_uri(B + "hasKey", RDF.type, B + "KeyProp"),
        t_uri(B + "x", B + "hasKey", B + "k1"),
        t_uri(B + "x", B + "hasKey", B + "k2"),
    ]
    out, _ = reasoning.apply_reasoning(
        spark.createDataFrame(rows, TRIPLES_SCHEMA), profile="owl-rl"
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (B + "k1", OWL.sameAs, B + "k2") in got


def test_property_chain_one_shot_and_fixpoint(spark):
    from orionbelt_ontology_builder_spark import model as M
    from orionbelt_ontology_builder_spark.operators import reasoning

    B = "http://t#"
    rows = [
        # hasGrandparent <- hasParent o hasParent
        M.t_bnode(B + "hasGrandparent", M.OWL.propertyChainAxiom, "_:c"),
        M.t_uri("_:c", M.RDF.first, B + "hasParent"),
        M.t_bnode("_:c", M.RDF.rest, "_:c2"),
        M.t_uri("_:c2", M.RDF.first, B + "hasParent"),
        M.t_uri("_:c2", M.RDF.rest, M.RDF.nil),
        M.t_uri(B + "a", B + "hasParent", B + "b"),
        M.t_uri(B + "b", B + "hasParent", B + "c"),
        M.t_uri(B + "c", B + "hasParent", B + "d"),
    ]
    t = spark.createDataFrame(rows, M.TRIPLES_SCHEMA)
    got = {(r["subj"], r["obj"])
           for r in reasoning.apply_property_chains(t).collect()}
    assert got == {(B + "a", B + "c"), (B + "b", B + "d")}

    # fixpoint integration: owl-rl profile derives the same facts and
    # the chain conclusions feed downstream rules (domain typing)
    rows += [M.t_uri(B + "hasGrandparent", M.RDFS.domain, B + "Person")]
    t2 = spark.createDataFrame(rows, M.TRIPLES_SCHEMA)
    expanded, n = reasoning.apply_reasoning(t2, profile="owl-rl")
    facts = {(r["subj"], r["pred"], r["obj"]) for r in expanded.collect()}
    assert (B + "a", B + "hasGrandparent", B + "c") in facts
    assert (B + "a", M.RDF.type, B + "Person") in facts   # re-triggered rdfs2
    assert n >= 3


def test_property_chains_noop_without_axioms(spark):
    from orionbelt_ontology_builder_spark import model as M
    from orionbelt_ontology_builder_spark.operators import reasoning

    t = spark.createDataFrame(
        [M.t_uri("http://t#a", "http://t#p", "http://t#b")],
        M.TRIPLES_SCHEMA,
    )
    assert reasoning.apply_property_chains(t).count() == 0


def test_class_expression_membership_rules(spark):
    """cls-int1 (full intersection match), cls-int2 (expression ->
    members), cls-uni (member -> union) over the clsexpr fixture;
    asserted types never re-emitted."""
    from orionbelt_ontology_builder_spark import fixtures as FX
    from orionbelt_ontology_builder_spark.operators import lists, reasoning

    t = FX.fixture_triples(spark, "clsexpr_om")
    got = {
        (r["subj"], r["cls"], r["rule"])
        for r in reasoning.class_expression_membership(
            t, lists.lists_as_arrays(t)
        ).collect()
    }
    E = "http://test.org/ont#"
    assert got == {
        (E + "bob", E + "Adult", "cls-int1"),
        (E + "dave", E + "Employee", "cls-int2"),
        (E + "dave", E + "Organization", "cls-int2"),
        (E + "acme", E + "Agent", "cls-uni"),
        (E + "bob", E + "Agent", "cls-uni"),
    }
    # idempotence on the saturated graph: feeding the inferences back
    # as asserted types yields no cls-int1/uni re-derivations of them
    from pyspark.sql import functions as F
    add = spark.createDataFrame(
        [(s, "rdf-type", c) for s, c, _ in got],
        "subj string, pred string, obj string",
    ).select(
        "subj",
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("pred"),
        "obj",
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_dt"),
    )
    sat = t.unionByName(add)
    again = {
        (r["subj"], r["cls"])
        for r in reasoning.class_expression_membership(
            sat, lists.lists_as_arrays(sat)
        ).collect()
    }
    assert not again & {(s, c) for s, c, _ in got}


# ------------------------------------------------------------------ #
# SDType statistical type inference
# ------------------------------------------------------------------ #


def test_sdtype_votes_expected_types(spark):
    from orionbelt_ontology_builder_spark import fixtures as FX
    from orionbelt_ontology_builder_spark.operators import reasoning

    out = {r["entity"]: r for r in reasoning.sdtype_infer(
        FX.fixture_triples(spark, "sdtype_om")
    ).collect()}
    B = FX.BASE
    # unanimous predicate evidence -> score 1.0
    assert out[B + "u1"]["inferred_type"] == B + "Person"
    assert out[B + "u1"]["score"] == 1.0 and out[B + "u1"]["n_features"] == 3
    assert out[B + "u2"]["inferred_type"] == B + "City"
    assert out[B + "u3"]["inferred_type"] == B + "Person"
    # ambiguous seeAlso: 0.5 Person / 0.5 City -> type-asc tiebreak
    assert out[B + "u4"]["inferred_type"] == B + "City"
    assert abs(out[B + "u4"]["score"] - 0.5) < 1e-12
    # typed entities never reappear
    assert B + "p1" not in out and B + "c1" not in out


def test_sdtype_min_score_gate(spark):
    from orionbelt_ontology_builder_spark import fixtures as FX
    from orionbelt_ontology_builder_spark.operators import reasoning

    out = {r["entity"] for r in reasoning.sdtype_infer(
        FX.fixture_triples(spark, "sdtype_om"), min_score=0.6
    ).collect()}
    # the 0.5-ambiguous u4 falls below a 0.6 gate; unanimous ones stay
    assert FX.BASE + "u4" not in out
    assert FX.BASE + "u1" in out and FX.BASE + "u2" in out


def test_owlrl_closure_matches_hand_derived_rule_table(spark):
    """Independent semantic differential (round-3): the owl-rl profile's
    full closure over the equivalence/sameAs fixture must equal the
    EXPECTED set hand-derived from the W3C OWL 2 RL rule table (spec
    §4.3), not merely agree with the repo's own rule transcription."""
    import __spark_entry__ as E
    from orionbelt_ontology_builder_spark.operators import reasoning

    t = spark.createDataFrame(E._OWLRL_OM, E.M.TRIPLES_SCHEMA)
    expanded, n_inferred = reasoning.apply_reasoning(t, profile="owl-rl")
    got = sorted(
        (r.subj, r.pred, r.obj, r.obj_kind)
        for r in expanded.select("subj", "pred", "obj", "obj_kind").collect()
    )
    want = E._owlrl_reference_expected()
    assert got == want
    assert n_inferred == len(want) - len(E._OWLRL_OM)
