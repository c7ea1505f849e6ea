"""Reference-API facade (`manager.OntologyManager`): a user of the
reference drives the same method names end-to-end.  Semantics are
oracle-tested per operator; this file asserts the *binding* — state
threading, base-URI resolution, checkpoint-per-mutation, return shapes."""

from __future__ import annotations

import pytest

from orionbelt_ontology_builder_spark.manager import (
    IMPORT_MERGE,
    OntologyManager,
    collect_dicts,
)

BASE = "http://example.org/ontology#"


@pytest.fixture()
def om(spark):
    return OntologyManager(spark, BASE)


def test_init_declares_ontology(om):
    assert om.triples.count() == 1
    md = om.get_ontology_metadata().first()
    assert md["ontology_uri"] == "http://example.org/ontology"


def test_class_crud_flow(om):
    om.add_class("Animal", label="Animal")
    om.add_class("Dog", parent="Animal")
    names = [r["name"] for r in om.get_classes().collect()]
    assert names == ["Animal", "Dog"]
    hier = {
        r["class_name"]: r["children"]
        for r in om.get_class_hierarchy().collect()
    }
    assert "Dog" in hier.get("Animal", [])
    assert om.rename_class("Dog", "Hound") is True
    assert om.rename_class("Hound", "Animal") is False  # guard refuses
    om.delete_class("Hound")
    assert [r["name"] for r in om.get_classes().collect()] == ["Animal"]


def test_property_and_individual_flow(om):
    om.add_class("Person")
    om.add_object_property("knows", domain="Person", range="Person",
                           characteristics=["symmetric"])
    om.add_data_property("age", domain="Person", range="integer")
    om.add_individual("alice", class_name="Person", label="Alice")
    om.add_individual("bob", class_name="Person")
    om.add_individual_property("alice", "knows", "bob", is_object=True)
    props = collect_dicts(om.get_object_properties())
    assert props[0]["name"] == "knows" and props[0]["symmetric"] == 1
    inds = [r["name"] for r in om.get_individuals().collect()]
    assert inds == ["alice", "bob"]
    found = om.search("Alice").collect()
    assert found and found[0]["name"] == "alice"


def test_annotations_and_relations(om):
    om.add_class("Thing2")
    om.add_annotation("Thing2", "seeAlso", "http://elsewhere.example")
    anns = om.get_annotations(BASE + "Thing2").collect()
    assert any("seeAlso" in r["predicate"] for r in anns)
    om.add_class("A")
    om.add_class("B")
    om.add_class_relation("A", "equivalentClass", "B")
    rels = om.get_class_relations("A").collect()
    assert ("A", "equivalentClass", "B") in {
        (r["source"], r["relation"], r["target"]) for r in rels
    }


def test_skos_flow(om):
    om.add_concept_scheme("Topics", label="Topics")
    om.add_concept("Science", scheme="Topics", pref_label="Science")
    om.add_concept("Physics", scheme="Topics", broader="Science")
    cons = {r["name"]: r for r in om.get_concepts().collect()}
    assert BASE + "Science" in cons["Physics"]["broader"]
    assert BASE + "Physics" in cons["Science"]["narrower"]  # auto-inverse
    om.delete_concept("Physics")
    cons = {r["name"]: r for r in om.get_concepts().collect()}
    assert "Physics" not in cons
    assert not cons["Science"]["narrower"]  # inverse cleaned


def test_restriction_roundtrip(om):
    om.add_class("Car")
    om.add_object_property("hasWheel")
    om.add_restriction("Car", "hasWheel", "minCardinality", 4)
    restr = om.get_restrictions().collect()
    assert restr and restr[0]["restriction_type"] == "minCardinality"
    om.delete_restriction("Car", "hasWheel", "minCardinality")
    assert om.get_restrictions().count() == 0


def test_bulk_and_undo(om):
    rows = om.parse_bulk_text("name,label\nX,Ex\nY,Why\n")
    om.bulk_add_classes(rows)
    assert om.get_classes().count() == 2
    assert om.can_undo()
    assert om.undo() == "Initial state"
    assert om.get_classes().count() == 0
    assert om.can_redo()
    om.redo()
    assert om.get_classes().count() == 2
    om.bulk_delete_classes(["X", "Y"])
    assert om.get_classes().count() == 0


def test_import_export_roundtrip(om, spark):
    ttl = f"""@prefix ex: <{BASE}> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
ex:Tree a owl:Class .
ex:Oak a owl:Class ; ex:growsIn ex:Forest .
"""
    om.load_from_string(ttl, "turtle", IMPORT_MERGE)
    assert "Tree" in [r["name"] for r in om.get_classes().collect()]
    out = om.export_to_string("nt")
    om2 = OntologyManager(spark, BASE)
    om2.load_from_string(out, "nt")
    assert om2.triples.count() == om.triples.count()
    # prefix from the ttl landed in the side-table
    assert "ex" in [r["prefix"] for r in om.get_prefixes().collect()]


def test_diff_of_text_stating_a_present_triple_twice(om):
    """A Turtle text may state a triple twice (rdflib keeps one): the
    comparison is set-valued, so the repeat is unchanged, not added."""
    ttl = f"@prefix ex: <{BASE}> .\nex:A ex:p ex:B .\n"
    om.load_from_string(ttl, "turtle")
    assert om.triples.count() == 1
    twice = ttl + "ex:A ex:p ex:B .\n"
    s = om.compare_to_string(twice).first()
    assert (s["added"], s["removed"], s["unchanged"]) == (0, 0, 1)
    prev = om.preview_import(twice)
    assert prev["added"].count() == 0
    assert prev["classification"].count() == 0


def test_metadata_imports_validate_reasoning(om):
    om.set_ontology_metadata(label="My Ontology", creator="me")
    md = om.get_ontology_metadata().first()
    assert md["label"] == "My Ontology" and md["creator"] == "me"
    om.set_ontology_metadata(creator="")  # clear
    assert om.get_ontology_metadata().first()["creator"] is None
    om.add_import("http://example.org/other")
    assert om.get_imports().count() == 1
    om.remove_import("http://example.org/other")
    assert om.get_imports().count() == 0
    om.add_class("P1")
    stats = om.get_statistics().first()
    assert stats["classes"] == 1
    issues = om.validate()
    assert "severity" in issues.columns
    om.add_individual("i1", class_name="P1")
    om.add_individual("i2", class_name="P1")
    om.add_individual_relation("i1", "sameAs", "i2")
    inferred = om.apply_reasoning()
    assert inferred > 0  # at least the symmetric sameAs edge
