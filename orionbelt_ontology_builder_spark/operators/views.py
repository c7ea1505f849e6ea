"""Read operators: entity views over the triples table (SURVEY.md §2.2-§2.6).

Each function is a pure DataFrame transform ``triples -> view``.  Shapes:

  * **type-filter**: ``pred = rdf:type AND obj = <kind>`` — prunes to the
    entity list (pushed into the scan by Catalyst).
  * **attribute assembly**: instead of N broadcast joins (one per attribute,
    the literal translation of the reference's N index lookups per entity,
    e.g. ``ontology_manager.py:896-931``), we do ONE conditional
    aggregation pass: ``groupBy(subj).agg(min(when(pred=..., obj)))``.
    One shuffle for all attributes — partial (map-side) aggregation makes
    this scale linearly; at 100 TB this is the difference between 1 and N
    shuffles of the full triples table.
  * deterministic "first value": the reference relies on rdflib dict-order
    for ``graph.value`` (``ontology_manager.py:497-498``); we pin ``min``
    (documented divergence, tests never assert which of several wins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import (
    GIST_NS,
    OWL,
    PROPERTY_CHARACTERISTICS,
    RDF,
    RDFS,
    RESTRICTION_TYPES,
    SCHEMA_NS,
    SKOS,
    STRUCTURAL_PREDICATES,
    local_name_col,
    type_slice,
)

# --------------------------------------------------------------------------
# attribute-assembly primitives
# --------------------------------------------------------------------------


def _first(pred: str) -> Column:
    """min(obj) where pred matches — deterministic ``graph.value``."""
    return F.min(F.when(F.col("pred") == pred, F.col("obj")))


def _all(pred: str) -> Column:
    """sorted distinct objects where pred matches."""
    return F.array_sort(
        F.collect_set(F.when(F.col("pred") == pred, F.col("obj")))
    )


def _has_type(type_uri: str) -> Column:
    """1-bit flag: subject carries ``rdf:type <type_uri>``."""
    return F.max(
        F.when((F.col("pred") == RDF.type) & (F.col("obj") == type_uri), True)
    ).isNotNull()


# --------------------------------------------------------------------------
# classes (reference ontology_manager.py:487-528)
# --------------------------------------------------------------------------


def get_classes(triples: DataFrame) -> DataFrame:
    """Named classes with label/comment/parents/children, sorted by name.

    Reference ``get_classes`` (``ontology_manager.py:487-515``): skips
    BNode classes, label/comment via first-match, parents = subClassOf
    out-edges, children = in-edges.
    """
    classes = type_slice(triples, OWL.Class).filter(~F.col("subj").startswith("_:"))
    attrs = (
        triples.groupBy("subj")
        .agg(
            _first(RDFS.label).alias("label"),
            _first(RDFS.comment).alias("comment"),
            _all(RDFS.subClassOf).alias("parents"),
        )
    )
    children = (
        triples.filter(F.col("pred") == RDFS.subClassOf)
        .groupBy("obj")
        .agg(F.array_sort(F.collect_set("subj")).alias("children"))
        .withColumnRenamed("obj", "subj")
    )
    return (
        classes.join(attrs, "subj", "left")
        .join(children, "subj", "left")
        .select(
            F.col("subj").alias("uri"),
            local_name_col(F.col("subj")).alias("name"),
            "label",
            "comment",
            F.coalesce("parents", F.array()).alias("parents"),
            F.coalesce("children", F.array()).alias("children"),
        )
        .orderBy("name")
    )


def get_class_hierarchy(triples: DataFrame) -> DataFrame:
    """{class -> [children]} adjacency incl. childless classes
    (reference ``ontology_manager.py:517-528``)."""
    classes = type_slice(triples, OWL.Class).filter(~F.col("subj").startswith("_:"))
    edges = (
        triples.filter(F.col("pred") == RDFS.subClassOf)
        .select(F.col("obj").alias("subj"), F.col("subj").alias("child"))
        .join(classes, "subj", "left_semi")
    )
    return (
        classes.join(edges, "subj", "left")
        .groupBy("subj")
        .agg(
            F.array_sort(
                F.collect_set(local_name_col(F.col("child")))
            ).alias("children")
        )
        .select(
            local_name_col(F.col("subj")).alias("class_name"),
            "children",
        )
        .orderBy("class_name")
    )


# --------------------------------------------------------------------------
# properties (reference ontology_manager.py:879-972)
# --------------------------------------------------------------------------

_SCHEMA_DOMAIN = SCHEMA_NS + "domainIncludes"
_SCHEMA_RANGE = SCHEMA_NS + "rangeIncludes"
_GIST_DOMAIN = GIST_NS + "domainIncludes"
_GIST_RANGE = GIST_NS + "rangeIncludes"


def get_object_properties(triples: DataFrame) -> DataFrame:
    """Object properties with label/comment/domain/range (incl.
    ``domainIncludes`` fallbacks, reference ``:898-911``), the 7
    characteristic flags (``:915-928``), and inverseOf — in ONE
    aggregation pass over the property subjects."""
    props = type_slice(triples, OWL.ObjectProperty)
    agg = triples.join(props, "subj", "left_semi").groupBy("subj").agg(
        _first(RDFS.label).alias("label"),
        _first(RDFS.comment).alias("comment"),
        _first(RDFS.domain).alias("rdfs_domain"),
        _first(_SCHEMA_DOMAIN).alias("schema_domain"),
        _first(_GIST_DOMAIN).alias("gist_domain"),
        _first(RDFS.range).alias("rdfs_range"),
        _first(_SCHEMA_RANGE).alias("schema_range"),
        _first(_GIST_RANGE).alias("gist_range"),
        _first(OWL.inverseOf).alias("inverse_of"),
        *[
            _has_type(u).alias(flag)
            for flag, u in PROPERTY_CHARACTERISTICS
        ],
    )
    return agg.select(
        F.col("subj").alias("uri"),
        local_name_col(F.col("subj")).alias("name"),
        "label",
        "comment",
        F.coalesce("rdfs_domain", "schema_domain", "gist_domain").alias("domain"),
        F.coalesce("rdfs_range", "schema_range", "gist_range").alias("range"),
        "inverse_of",
        *[flag for flag, _ in PROPERTY_CHARACTERISTICS],
    ).orderBy("name")


def get_data_properties(triples: DataFrame) -> DataFrame:
    """Datatype properties + functional flag
    (reference ``ontology_manager.py:938-972``)."""
    props = type_slice(triples, OWL.DatatypeProperty)
    agg = triples.join(props, "subj", "left_semi").groupBy("subj").agg(
        _first(RDFS.label).alias("label"),
        _first(RDFS.comment).alias("comment"),
        _first(RDFS.domain).alias("rdfs_domain"),
        _first(_SCHEMA_DOMAIN).alias("schema_domain"),
        _first(_GIST_DOMAIN).alias("gist_domain"),
        _first(RDFS.range).alias("range"),
        _has_type(OWL.FunctionalProperty).alias("functional"),
    )
    return agg.select(
        F.col("subj").alias("uri"),
        local_name_col(F.col("subj")).alias("name"),
        "label",
        "comment",
        F.coalesce("rdfs_domain", "schema_domain", "gist_domain").alias("domain"),
        "range",
        "functional",
    ).orderBy("name")


# --------------------------------------------------------------------------
# individuals (reference ontology_manager.py:1061-1097)
# --------------------------------------------------------------------------


def get_individuals(triples: DataFrame) -> DataFrame:
    """Individuals + classes (excluding owl:NamedIndividual) + non-structural
    property assertions, dedup by URI (reference ``:1064-1069``)."""
    inds = type_slice(triples, OWL.NamedIndividual)
    own = triples.join(inds, "subj", "left_semi")
    agg = own.groupBy("subj").agg(
        _first(RDFS.label).alias("label"),
        _first(RDFS.comment).alias("comment"),
        F.array_sort(
            F.collect_set(
                F.when(
                    (F.col("pred") == RDF.type)
                    & (F.col("obj") != OWL.NamedIndividual),
                    F.col("obj"),
                )
            )
        ).alias("classes"),
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("pred").isin(RDF.type, RDFS.label, RDFS.comment),
                    F.concat_ws("=", F.col("pred"), F.col("obj")),
                )
            )
        ).alias("assertions"),
    )
    return agg.select(
        F.col("subj").alias("uri"),
        local_name_col(F.col("subj")).alias("name"),
        "label",
        "comment",
        "classes",
        "assertions",
    ).orderBy("name")


# --------------------------------------------------------------------------
# SKOS (reference ontology_manager.py:1396-1632)
# --------------------------------------------------------------------------


def get_concept_schemes(triples: DataFrame) -> DataFrame:
    """Schemes + concept_count (in-edges of skos:inScheme)
    (reference ``:1396-1416``)."""
    schemes = type_slice(triples, SKOS.ConceptScheme)
    attrs = triples.groupBy("subj").agg(
        _first(RDFS.label).alias("label"),
        _first(SKOS.prefLabel).alias("pref_label"),
    )
    counts = (
        triples.filter(F.col("pred") == SKOS.inScheme)
        .groupBy("obj")
        .agg(F.count("*").alias("concept_count"))
        .withColumnRenamed("obj", "subj")
    )
    return (
        schemes.join(attrs, "subj", "left")
        .join(counts, "subj", "left")
        .select(
            F.col("subj").alias("uri"),
            local_name_col(F.col("subj")).alias("name"),
            F.coalesce("pref_label", "label").alias("label"),
            F.coalesce("concept_count", F.lit(0)).alias("concept_count"),
        )
        .orderBy("name")
    )


def get_concepts(triples: DataFrame, scheme: str | None = None) -> DataFrame:
    """Concepts with prefLabel/definition/altLabels/broader/narrower/related/
    schemes, optional scheme filter (reference ``:1480-1539``)."""
    concepts = type_slice(triples, SKOS.Concept)
    if scheme is not None:
        in_scheme = triples.filter(
            (F.col("pred") == SKOS.inScheme)
            & (
                (F.col("obj") == scheme)
                | (local_name_col(F.col("obj")) == scheme)
            )
        ).select("subj")
        concepts = concepts.join(in_scheme, "subj", "left_semi")
    agg = triples.join(concepts, "subj", "left_semi").groupBy("subj").agg(
        _first(SKOS.prefLabel).alias("pref_label"),
        _first(SKOS.definition).alias("definition"),
        _all(SKOS.altLabel).alias("alt_labels"),
        _all(SKOS.broader).alias("broader"),
        _all(SKOS.narrower).alias("narrower"),
        _all(SKOS.related).alias("related"),
        _all(SKOS.inScheme).alias("schemes"),
    )
    return agg.select(
        F.col("subj").alias("uri"),
        local_name_col(F.col("subj")).alias("name"),
        "pref_label",
        "definition",
        "alt_labels",
        "broader",
        "narrower",
        "related",
        "schemes",
    ).orderBy("name")


def get_concept_hierarchy(triples: DataFrame) -> DataFrame:
    """{concept -> narrower children} incl. leaves (reference ``:1618-1632``)."""
    concepts = type_slice(triples, SKOS.Concept)
    edges = (
        triples.filter(F.col("pred") == SKOS.narrower)
        .select("subj", F.col("obj").alias("child"))
        .join(concepts, "subj", "left_semi")
    )
    return (
        concepts.join(edges, "subj", "left")
        .groupBy("subj")
        .agg(
            F.array_sort(
                F.collect_set(local_name_col(F.col("child")))
            ).alias("children")
        )
        .select(local_name_col(F.col("subj")).alias("concept_name"), "children")
        .orderBy("concept_name")
    )


# --------------------------------------------------------------------------
# restrictions (reference ontology_manager.py:1138-1178)
# --------------------------------------------------------------------------


def get_restrictions(triples: DataFrame) -> DataFrame:
    """Decode bnode restrictions: onProperty, first-matching type of the 9
    ``RESTRICTION_TYPES`` (coalesce in declaration order, reference
    ``:1156-1164``), value, onClass, and the classes the restriction is
    applied to via subClassOf."""
    rest = type_slice(triples, OWL.Restriction)
    agg = triples.join(rest, "subj", "left_semi").groupBy("subj").agg(
        _first(OWL.onProperty).alias("on_property"),
        _first(OWL.onClass).alias("on_class"),
        *[_first(u).alias(f"v_{name}") for name, u in RESTRICTION_TYPES],
    )
    rtype = F.coalesce(
        *[
            F.when(F.col(f"v_{name}").isNotNull(), F.lit(name))
            for name, _ in RESTRICTION_TYPES
        ]
    )
    rvalue = F.coalesce(*[F.col(f"v_{name}") for name, _ in RESTRICTION_TYPES])
    applied = (
        triples.filter(F.col("pred") == RDFS.subClassOf)
        .select(F.col("obj").alias("subj"), F.col("subj").alias("applied_to"))
        .groupBy("subj")
        .agg(F.array_sort(F.collect_set("applied_to")).alias("applied_to"))
    )
    return (
        agg.join(applied, "subj", "left")
        .select(
            F.col("subj").alias("bnode"),
            "on_property",
            rtype.alias("restriction_type"),
            rvalue.alias("value"),
            "on_class",
            F.coalesce("applied_to", F.array()).alias("applied_to"),
        )
        .orderBy("bnode")
    )


# --------------------------------------------------------------------------
# annotations (reference ontology_manager.py:1242-1320)
# --------------------------------------------------------------------------


def get_annotations(triples: DataFrame, resource: str) -> DataFrame:
    """Non-structural, non-bnode-object annotations of one resource with
    lang/datatype surfaced (reference ``:1242-1285``)."""
    return (
        triples.filter(
            (F.col("subj") == resource)
            & (~F.col("pred").isin(*STRUCTURAL_PREDICATES))
            & (F.col("obj_kind") != "bnode")
        )
        .select(
            F.col("pred").alias("predicate"),
            local_name_col(F.col("pred")).alias("predicate_name"),
            F.col("obj").alias("value"),
            F.col("obj_lang").alias("lang"),
            F.col("obj_dt").alias("datatype"),
        )
        .orderBy("predicate", "value")
    )


def get_used_annotation_predicates(triples: DataFrame) -> DataFrame:
    """Distinct non-structural predicates in the whole graph
    (reference ``:1287-1320``)."""
    return (
        triples.filter(
            (~F.col("pred").isin(*STRUCTURAL_PREDICATES))
            & (F.col("obj_kind") != "bnode")
        )
        .select("pred")
        .distinct()
        .select(
            F.col("pred").alias("predicate"),
            local_name_col(F.col("pred")).alias("predicate_name"),
        )
        .orderBy(F.lower(F.col("predicate_name")))
    )


# --------------------------------------------------------------------------
# relations (reference ontology_manager.py:1722-1836)
# --------------------------------------------------------------------------

CLASS_RELATIONS = [RDFS.subClassOf, OWL.equivalentClass, OWL.disjointWith]
PROPERTY_RELATIONS = [
    RDFS.subPropertyOf,
    OWL.equivalentProperty,
    OWL.inverseOf,
    OWL.propertyDisjointWith,
]
INDIVIDUAL_RELATIONS = [OWL.sameAs, OWL.differentFrom]


def get_relations(
    triples: DataFrame, preds: list[str], name: str | None = None
) -> DataFrame:
    """Enumerate relation pairs for a fixed vocab set, URIRef objects only,
    optional subject-or-object name filter (reference ``:1758-1836``)."""
    df = triples.filter(
        F.col("pred").isin(*preds) & (F.col("obj_kind") == "uri")
    ).filter(~F.col("subj").startswith("_:"))
    if name is not None:
        df = df.filter(
            (local_name_col(F.col("subj")) == name)
            | (local_name_col(F.col("obj")) == name)
        )
    return df.select(
        local_name_col(F.col("subj")).alias("source"),
        local_name_col(F.col("pred")).alias("relation"),
        local_name_col(F.col("obj")).alias("target"),
    ).orderBy("source", "relation", "target")


# --------------------------------------------------------------------------
# usages & delete impact (reference ontology_manager.py:2351-2396, 371-455)
# --------------------------------------------------------------------------


def get_resource_usages(triples: DataFrame, resource: str) -> DataFrame:
    """Backlinks in the three index orientations: outbound (subj=x,
    non-structural), inbound (obj=x, non-bnode subject), as-predicate
    (reference ``:2351-2396``)."""
    outbound = triples.filter(
        (F.col("subj") == resource) & (~F.col("pred").isin(*STRUCTURAL_PREDICATES))
    ).select(
        F.lit("outbound").alias("direction"),
        F.col("subj").alias("resource"),
        "pred",
        F.col("obj").alias("other"),
    )
    inbound = triples.filter(
        (F.col("obj") == resource) & (~F.col("subj").startswith("_:"))
    ).select(
        F.lit("inbound").alias("direction"),
        F.col("obj").alias("resource"),
        "pred",
        F.col("subj").alias("other"),
    )
    as_pred = triples.filter(F.col("pred") == resource).select(
        F.lit("predicate").alias("direction"),
        F.col("pred").alias("resource"),
        F.col("pred").alias("pred"),
        F.col("subj").alias("other"),
    )
    return outbound.unionByName(inbound).unionByName(as_pred).orderBy(
        "direction", "pred", "other"
    )


def get_delete_impact(triples: DataFrame, resource: str) -> DataFrame:
    """Pre-delete impact counts (reference ``:371-455``): subclasses,
    instances, domain-of, range-of, inbound references, direct triples.
    One row of counts via conditional aggregation (single pass)."""
    touch = triples.filter(
        (F.col("subj") == resource) | (F.col("obj") == resource) | (F.col("pred") == resource)
    )
    return touch.agg(
        F.sum(
            ((F.col("pred") == RDFS.subClassOf) & (F.col("obj") == resource)).cast("long")
        ).alias("subclasses"),
        F.sum(
            ((F.col("pred") == RDF.type) & (F.col("obj") == resource)).cast("long")
        ).alias("instances"),
        F.sum(
            ((F.col("pred") == RDFS.domain) & (F.col("obj") == resource)).cast("long")
        ).alias("domain_of"),
        F.sum(
            ((F.col("pred") == RDFS.range) & (F.col("obj") == resource)).cast("long")
        ).alias("range_of"),
        F.sum((F.col("subj") == resource).cast("long")).alias("direct_triples"),
        F.sum(
            ((F.col("obj") == resource) & (F.col("subj") != resource)).cast("long")
        ).alias("inbound_references"),
        F.sum((F.col("pred") == resource).cast("long")).alias("as_predicate"),
        F.count("*").alias("total_affected"),
    )


# --------------------------------------------------------------------------
# statistics (reference ontology_manager.py:2868-2901)
# --------------------------------------------------------------------------


def get_statistics(triples: DataFrame) -> DataFrame:
    """Entity-kind counts + total triples in ONE pass (conditional agg;
    partial aggregation map-side).  Reference iterates the type index 7
    times (``:2868-2901``); here it is a single scan."""
    is_type = F.col("pred") == RDF.type

    def cnt(kind: str) -> Column:
        return F.count_distinct(
            F.when(is_type & (F.col("obj") == kind), F.col("subj"))
        )

    return triples.agg(
        cnt(OWL.Class).alias("classes"),
        cnt(OWL.ObjectProperty).alias("object_properties"),
        cnt(OWL.DatatypeProperty).alias("data_properties"),
        cnt(OWL.NamedIndividual).alias("individuals"),
        cnt(OWL.Restriction).alias("restrictions"),
        cnt(SKOS.ConceptScheme).alias("concept_schemes"),
        cnt(SKOS.Concept).alias("concepts"),
        F.count("*").alias("total_triples"),
    )


# --------------------------------------------------------------------------
# search (reference ontology_manager.py:2301-2347)
# --------------------------------------------------------------------------

_SEARCHABLE_TYPES = {
    OWL.Class: "class",
    OWL.ObjectProperty: "object_property",
    OWL.DatatypeProperty: "data_property",
    OWL.NamedIndividual: "individual",
}


def search(triples: DataFrame, query: str, limit: int | None = None) -> DataFrame:
    """Case-insensitive substring search over name/label/comment of the four
    entity kinds; match-field priority name > label > comment
    (reference ``:2330-2336``); name-matches ranked first (``:2346``).
    An empty / whitespace-only query returns no rows (``:2307-2308``) —
    without the guard ``contains('')`` matches every entity."""
    q = query.strip().lower()
    if not q:
        return triples.limit(0).select(
            F.col("subj").alias("uri"),
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("string").alias("entity_type"),
            F.lit(None).cast("string").alias("match_field"),
            F.lit(None).cast("string").alias("label"),
        )
    typed = (
        triples.filter(
            (F.col("pred") == RDF.type)
            & F.col("obj").isin(*_SEARCHABLE_TYPES.keys())
        )
        .select(
            "subj",
            F.col("obj").alias("type_uri"),
        )
        .withColumn(
            "entity_type",
            F.element_at(
                F.create_map(
                    *[
                        x
                        for u, k in _SEARCHABLE_TYPES.items()
                        for x in (F.lit(u), F.lit(k))
                    ]
                ),
                F.col("type_uri"),
            ),
        )
        .drop("type_uri")
        .dropDuplicates(["subj"])
    )
    attrs = triples.groupBy("subj").agg(
        _first(RDFS.label).alias("label"),
        _first(RDFS.comment).alias("comment"),
    )
    ent = typed.join(attrs, "subj", "left").select(
        "subj",
        "entity_type",
        local_name_col(F.col("subj")).alias("name"),
        "label",
        "comment",
    )
    match_field = (
        F.when(F.lower(F.col("name")).contains(q), F.lit("name"))
        .when(F.lower(F.col("label")).contains(q), F.lit("label"))
        .when(F.lower(F.col("comment")).contains(q), F.lit("comment"))
    )
    out = (
        ent.withColumn("match_field", match_field)
        .filter(F.col("match_field").isNotNull())
        .select(
            F.col("subj").alias("uri"),
            "name",
            "entity_type",
            "match_field",
            "label",
        )
        .orderBy(
            (F.col("match_field") != "name").cast("int"),
            F.lower(F.col("name")),
        )
    )
    if limit is not None:
        out = out.limit(limit)
    return out


# --------------------------------------------------------------------------
# namespace inference (reference ontology_manager.py:2261-2293)
# --------------------------------------------------------------------------


def resolve_base_uri(
    triples: DataFrame, default_prefix_ns: str | None = None
) -> DataFrame:
    """(base_uri, source): the import-time base-URI resolution the
    reference applies on every load (``_update_namespace_from_graph``,
    ``ontology_manager.py:2206-2236``):

      1. ``ontology``       — a URI-subject ``owl:Ontology`` declaration;
         separator detection per ``_detect_base_uri`` (``:2238-2250``):
         a trailing '#'/'/' is kept as-is, otherwise the separator is
         read off the first typed sample resource the ontology URI
         prefixes, defaulting to '#'.
      2. ``default_prefix`` — the parse-captured default ('':) prefix,
         unless it is a standard vocabulary namespace (``:2261-2268``).
      3. ``inferred``       — majority namespace among Class /
         ObjectProperty / DatatypeProperty / NamedIndividual subjects,
         standard namespaces excluded (``:2270-2287``).

    Determinism pins (the reference iterates rdflib set views in hash
    order): the 'first' owl:Ontology is ``min(subj)``; the sample
    resource is ``min(subj)`` within the best type rank; majority ties
    break on ``min(namespace)``.  All candidate priorities are computed
    in one plan and ranked — one row out, no driver-side branching.
    """
    from ..model import STANDARD_PREFIXES, namespace_col

    std = sorted(STANDARD_PREFIXES.values())
    uri_subj = ~F.col("subj").startswith("_:")
    is_type = F.col("pred") == RDF.type
    sample_types = [
        OWL.Class, OWL.ObjectProperty, OWL.DatatypeProperty,
        OWL.NamedIndividual,
    ]
    typ_rank = (
        F.when(F.col("obj") == OWL.Class, 0)
        .when(F.col("obj") == OWL.ObjectProperty, 1)
        .when(F.col("obj") == OWL.DatatypeProperty, 2)
        .otherwise(3)
    )
    typed = triples.filter(
        is_type & F.col("obj").isin(sample_types) & uri_subj
    ).select("subj", typ_rank.alias("rk"))

    ont = (
        triples.filter(is_type & (F.col("obj") == OWL.Ontology) & uri_subj)
        .agg(F.min("subj").alias("ont"))
        .filter(F.col("ont").isNotNull())
    )
    sample = (
        typed.agg(F.min(F.struct("rk", "subj")).alias("m"))
        .select(F.col("m.subj").alias("sample"))
    )
    p1 = ont.join(sample, F.lit(True), "left").select(
        F.lit(1).alias("pri"),
        F.when(
            F.col("ont").endswith("#") | F.col("ont").endswith("/"),
            F.col("ont"),
        )
        .when(
            F.col("sample").startswith(F.concat(F.col("ont"), F.lit("/"))),
            F.concat(F.col("ont"), F.lit("/")),
        )
        .when(
            F.col("sample").startswith(F.concat(F.col("ont"), F.lit("#"))),
            F.concat(F.col("ont"), F.lit("#")),
        )
        .otherwise(F.concat(F.col("ont"), F.lit("#")))
        .alias("base"),
        F.lit("ontology").alias("source"),
    )
    cands = p1
    if default_prefix_ns and default_prefix_ns not in std:
        p2 = triples.sparkSession.range(1).select(
            F.lit(2).alias("pri"),
            F.lit(default_prefix_ns).alias("base"),
            F.lit("default_prefix").alias("source"),
        )
        cands = cands.unionByName(p2)
    p3 = (
        typed.select(namespace_col(F.col("subj")).alias("ns"))
        .filter((F.length("ns") > 0) & ~F.col("ns").isin(std))
        .groupBy("ns")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ns"))
        .limit(1)
        .select(
            F.lit(3).alias("pri"),
            F.col("ns").alias("base"),
            F.lit("inferred").alias("source"),
        )
    )
    cands = cands.unionByName(p3)
    return (
        cands.orderBy("pri")
        .limit(1)
        .select(F.col("base").alias("base_uri"), "source")
    )


def resolve_base_uri_grouped(
    triples: DataFrame, group_col: str, defaults: DataFrame | None = None
) -> DataFrame:
    """``resolve_base_uri`` for MANY graphs in one pass: ``triples``
    carries a ``group_col`` tag (one graph per tag), ``defaults`` is an
    optional tiny (group_col, default_ns) table of parse-captured
    default prefixes.  Returns one (group_col, base_uri, source) row
    per group.

    Same semantics per group as the single-graph function, but the
    whole candidate lattice is TWO grouped aggregations + one broadcast
    join instead of N unioned single-graph plans — the multi-tenant /
    multi-import resolution shape (at corpus scale: resolving the base
    URI of every crawled ontology in one job instead of a per-file
    driver loop)."""
    from ..model import STANDARD_PREFIXES, namespace_col

    std = sorted(STANDARD_PREFIXES.values())
    g = F.col(group_col)
    uri_subj = ~F.col("subj").startswith("_:")
    is_type = F.col("pred") == RDF.type
    sample_types = [
        OWL.Class, OWL.ObjectProperty, OWL.DatatypeProperty,
        OWL.NamedIndividual,
    ]
    typ_rank = (
        F.when(F.col("obj") == OWL.Class, 0)
        .when(F.col("obj") == OWL.ObjectProperty, 1)
        .when(F.col("obj") == OWL.DatatypeProperty, 2)
        .otherwise(3)
    )
    is_sample = is_type & F.col("obj").isin(sample_types) & uri_subj
    # ontology decl + ranked sample resource: ONE grouped aggregation
    head = triples.groupBy(g.alias(group_col)).agg(
        F.min(
            F.when(is_type & (F.col("obj") == OWL.Ontology) & uri_subj,
                   F.col("subj"))
        ).alias("ont"),
        F.min(
            F.when(is_sample, F.struct(typ_rank.alias("rk"), F.col("subj")))
        )["subj"].alias("sample"),
    )
    p1 = head.filter(F.col("ont").isNotNull()).select(
        group_col,
        F.lit(1).alias("pri"),
        F.when(
            F.col("ont").endswith("#") | F.col("ont").endswith("/"),
            F.col("ont"),
        )
        .when(
            F.col("sample").startswith(F.concat(F.col("ont"), F.lit("/"))),
            F.concat(F.col("ont"), F.lit("/")),
        )
        .when(
            F.col("sample").startswith(F.concat(F.col("ont"), F.lit("#"))),
            F.concat(F.col("ont"), F.lit("#")),
        )
        .otherwise(F.concat(F.col("ont"), F.lit("#")))
        .alias("base"),
        F.lit("ontology").alias("source"),
    )
    cands = p1
    if defaults is not None:
        p2 = (
            defaults.filter(
                F.col("default_ns").isNotNull()
                # empty string falls through to inference, mirroring the
                # single-graph function's Python-truthiness gate
                & (F.col("default_ns") != "")
                & ~F.col("default_ns").isin(std)
            )
            .select(
                group_col,
                F.lit(2).alias("pri"),
                F.col("default_ns").alias("base"),
                F.lit("default_prefix").alias("source"),
            )
        )
        cands = cands.unionByName(p2)
    # majority namespace per group; ties break on min(ns) — min over
    # struct(-cnt, ns) folds "most frequent, then lexicographic" into
    # the grouped aggregation (no window, no per-group limit)
    p3 = (
        triples.filter(is_sample)
        .select(g.alias(group_col), namespace_col(F.col("subj")).alias("ns"))
        .filter((F.length("ns") > 0) & ~F.col("ns").isin(std))
        .groupBy(group_col, "ns")
        .agg(F.count("*").alias("cnt"))
        .groupBy(group_col)
        .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("ns")))["ns"]
             .alias("base"))
        .select(
            group_col,
            F.lit(3).alias("pri"),
            "base",
            F.lit("inferred").alias("source"),
        )
    )
    cands = cands.unionByName(p3)
    return (
        cands.groupBy(group_col)
        .agg(F.min(F.struct("pri", "base", "source")).alias("w"))
        .select(
            group_col,
            F.col("w.base").alias("base_uri"),
            F.col("w.source").alias("source"),
        )
    )


def infer_namespace(triples: DataFrame) -> DataFrame:
    """Most frequent namespace among typed resources — top-1 groupBy.count.

    The reference uses ``Counter.most_common`` (``:2261-2293``)."""
    from ..model import namespace_col

    typed = triples.filter(
        (F.col("pred") == RDF.type) & (~F.col("subj").startswith("_:"))
    ).select("subj")
    return (
        typed.withColumn("namespace", namespace_col(F.col("subj")))
        .filter(F.length("namespace") > 0)
        .groupBy("namespace")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "namespace")
        .limit(1)
    )


def duplicate_labels(triples: DataFrame) -> DataFrame:
    """Labels shared by >1 resource (reference ``:2834-2849``), in no
    particular row order: ``validation.validate`` explodes these rows
    into its issues and sorts once at the end, so a sort here would be a
    second range exchange and sampling job in every validation."""
    return (
        triples.filter(F.col("pred") == RDFS.label)
        .groupBy(F.col("obj").alias("label"))
        .agg(
            F.array_sort(F.collect_set("subj")).alias("resources"),
            F.count_distinct("subj").alias("n"),
        )
        .filter(F.col("n") > 1)
    )


# --------------------------------------------------------------------------
# app-level dataflow views (reference app.py — SURVEY.md §2.10)
# --------------------------------------------------------------------------


def resource_options(triples: DataFrame) -> DataFrame:
    """Union of the four typed entity projections with display labels,
    case-insensitively sorted — the annotation resource picker
    (reference ``app.py:206-230``, ``:1637-1659``)."""
    parts = []
    for type_uri, kind in [
        (OWL.Class, "class"),
        (OWL.ObjectProperty, "object_property"),
        (OWL.DatatypeProperty, "data_property"),
        (OWL.NamedIndividual, "individual"),
    ]:
        typed = type_slice(triples, type_uri).filter(
            ~F.col("subj").startswith("_:")
        )
        labels = (
            triples.filter(F.col("pred") == RDFS.label)
            .groupBy("subj")
            .agg(F.min("obj").alias("label"))
        )
        parts.append(
            typed.join(labels, "subj", "left").select(
                F.col("subj").alias("uri"),
                local_name_col(F.col("subj")).alias("name"),
                "label",
                F.lit(kind).alias("entity_type"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "display",
        F.concat(
            F.coalesce("label", "name"), F.lit(" ("), F.col("name"), F.lit(")")
        ),
    ).orderBy(F.lower(F.col("display")), "entity_type")


def viz_nodes(triples: DataFrame, max_per_layer: int = 500) -> DataFrame:
    """(id, label, group) node table for the graph visualization
    (reference ``app.py:3097-3206``, ``:3296-3334``); deterministic
    per-layer cap (the reference's ``max_nodes = 500``, ``app.py:3090``)."""
    parts = []
    for type_uri, group in [
        (OWL.Class, "class"),
        (OWL.NamedIndividual, "individual"),
        (SKOS.Concept, "concept"),
    ]:
        typed = type_slice(triples, type_uri).filter(
            ~F.col("subj").startswith("_:")
        )
        labels = (
            triples.filter(F.col("pred").isin(RDFS.label, SKOS.prefLabel))
            .groupBy("subj")
            .agg(F.min("obj").alias("label"))
        )
        parts.append(
            typed.join(labels, "subj", "left")
            .select(
                F.col("subj").alias("id"),
                F.coalesce("label", local_name_col(F.col("subj"))).alias("label"),
                F.lit(group).alias("group"),
            )
            .orderBy("id")
            .limit(max_per_layer)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("group", "id")


def viz_edges(triples: DataFrame, max_per_layer: int = 500) -> DataFrame:
    """(src, dst, kind, fan_idx, fan_curve, fan_roundness) edge table:
    subClassOf / rdf:type / broader edges whose BOTH endpoints are
    visible nodes (reference ``app.py:3123-3129`` both-ends rule).

    Parallel-edge fan-out (reference ``app.py:3404-3419``): edges are
    grouped by UNORDERED endpoint pair; within a group of 2+ the i-th
    edge (deterministic kind/src/dst order) alternates curvedCW /
    curvedCCW with roundness 0.2 * ((i+1)//2) (0.2 for i=0) so
    parallel edges don't overlap; singleton groups render straight
    (fan_curve '').  The rank window partitions by the endpoint pair —
    fan-out-sized groups, never a global sort."""
    nodes = viz_nodes(triples, max_per_layer).select(F.col("id"))
    def both_ends(df):
        return (
            df.join(nodes.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(nodes.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
    sub = both_ends(
        triples.filter(F.col("pred") == RDFS.subClassOf).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"),
            F.lit("subClassOf").alias("kind"),
        )
    )
    typ = both_ends(
        triples.filter(
            (F.col("pred") == RDF.type) & ~F.col("obj").startswith("http://www.w3.org/")
        ).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"),
            F.lit("type").alias("kind"),
        )
    )
    brd = both_ends(
        triples.filter(F.col("pred") == SKOS.broader).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"),
            F.lit("broader").alias("kind"),
        )
    )
    rel = both_ends(
        triples.filter(F.col("pred") == SKOS.related).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"),
            F.lit("related").alias("kind"),
        )
    )
    from pyspark.sql import Window

    edges = sub.unionByName(typ).unionByName(brd).unionByName(rel).distinct()
    pair_a = F.least("src", "dst")
    pair_b = F.greatest("src", "dst")
    w_rank = Window.partitionBy(pair_a, pair_b).orderBy("kind", "src", "dst")
    w_cnt = Window.partitionBy(pair_a, pair_b)
    edges = edges.withColumn(
        "fan_idx", (F.row_number().over(w_rank) - 1).cast("int")
    ).withColumn("fan_n", F.count(F.lit(1)).over(w_cnt))
    return (
        edges.select(
            "src", "dst", "kind", "fan_idx",
            F.when(F.col("fan_n") < 2, "")
            .when(F.col("fan_idx") % 2 == 1, "curvedCCW")
            .otherwise("curvedCW")
            .alias("fan_curve"),
            F.when(F.col("fan_n") < 2, F.lit(0.0))
            .when(F.col("fan_idx") == 0, F.lit(0.2))
            .otherwise(
                F.lit(0.2) * F.floor((F.col("fan_idx") + 1) / F.lit(2))
            )
            .alias("fan_roundness"),
        )
        .orderBy("kind", "src", "dst")
    )


def severity_counts(issues: DataFrame) -> DataFrame:
    """Group validation output by severity (reference ``app.py:2857-2875``)."""
    return issues.groupBy("severity").agg(
        F.count("*").alias("n")
    ).orderBy("severity")


def get_ontology_metadata(triples: DataFrame) -> DataFrame:
    """One-row pivot of the ontology node's label/comment/versionIRI/
    creator (reference ``ontology_manager.py:227-235``)."""
    ont = type_slice(triples, OWL.Ontology).select(
        F.col("subj").alias("ontology_uri")
    )
    from ..model import DC_NS, DCT_NS

    # the reference reads dcterms:creator (ontology_manager.py:231) and its
    # setter writes dcterms; legacy graphs carry dc:creator — prefer dcterms
    attrs = triples.groupBy("subj").agg(
        F.min(F.when(F.col("pred") == RDFS.label, F.col("obj"))).alias("label"),
        F.min(F.when(F.col("pred") == RDFS.comment, F.col("obj"))).alias("comment"),
        F.min(F.when(F.col("pred") == OWL.versionIRI, F.col("obj"))).alias("version_iri"),
        F.coalesce(
            F.min(F.when(F.col("pred") == DCT_NS + "creator", F.col("obj"))),
            F.min(F.when(F.col("pred") == DC_NS + "creator", F.col("obj"))),
        ).alias("creator"),
    )
    return ont.join(
        attrs, ont["ontology_uri"] == attrs["subj"], "left"
    ).select("ontology_uri", "label", "comment", "version_iri", "creator")


def get_imports(triples: DataFrame) -> DataFrame:
    """Objects of owl:imports (reference ``:112-114``)."""
    return (
        triples.filter(F.col("pred") == OWL.imports)
        .select(F.col("obj").alias("import_uri"))
        .distinct()
        .orderBy("import_uri")
    )


def class_tree(triples: DataFrame, max_depth: int = 16) -> DataFrame:
    """(name, depth, path): the textual class-hierarchy tree (reference
    ``app.py:3536-3558``) — roots are classes with no named parent;
    children ordered by name via the materialized root->node path.

    Iterative depth-assigning join (each round one broadcast-size join:
    class hierarchies are schema-sized, not data-sized), each level
    checkpointed with its row count observed in the same job."""
    from .fixpoint import checkpoint_observed

    classes = (
        type_slice(triples, OWL.Class)
        .filter(~F.col("subj").startswith("_:"))
        .select(F.col("subj").alias("node"))
    )
    edges = (
        triples.filter(F.col("pred") == RDFS.subClassOf)
        .filter(~F.col("obj").startswith("_:"))
        .join(classes.withColumnRenamed("node", "obj"), "obj", "left_semi")
        .select(F.col("obj").alias("parent"), F.col("subj").alias("child"))
    )
    has_parent = edges.select(F.col("child").alias("node")).distinct()
    # ``upath`` is a hidden \x1f-delimited list of the full URIs on the
    # root->node path; it guards against subClassOf cycles (a cyclic
    # child would otherwise re-expand every round up to max_depth).
    # Delimiter-wrapped containment is exact — no prefix-URI false hits.
    sep = "\x1f"
    frontier = (
        classes.join(has_parent, "node", "left_anti")
        .select(
            "node",
            F.lit(0).alias("depth"),
            local_name_col(F.col("node")).alias("path"),
            F.concat(F.lit(sep), F.col("node"), F.lit(sep)).alias("upath"),
        )
    )
    out = frontier
    for _ in range(max_depth):
        frontier, m = checkpoint_observed(
            frontier.join(edges, frontier["node"] == edges["parent"])
            .filter(
                F.instr(
                    F.col("upath"),
                    F.concat(F.lit(sep), F.col("child"), F.lit(sep)),
                )
                == 0
            )
            .select(
                F.col("child").alias("node"),
                (F.col("depth") + 1).alias("depth"),
                F.concat(
                    F.col("path"), F.lit("/"), local_name_col(F.col("child"))
                ).alias("path"),
                F.concat(
                    F.col("upath"), F.col("child"), F.lit(sep)
                ).alias("upath"),
            ),
            n=F.count(F.lit(1)),
        )
        if not m["n"]:
            break
        out = out.unionByName(frontier)
    return out.select(
        local_name_col(F.col("node")).alias("name"), "depth", "path"
    ).orderBy("path")


# --------------------------------------------------------------------------
# delete-impact text render (reference ontology_manager.py:457-478)
# --------------------------------------------------------------------------


def format_delete_impact(triples: DataFrame, resource: str) -> DataFrame:
    """(idx, line): the human-readable delete-impact summary as ordered
    text lines (reference ``format_delete_impact``,
    ``ontology_manager.py:457-478``).  The header line always renders;
    each detail line only when its count is non-zero.  Built from the
    one-row :func:`get_delete_impact` aggregate — an inline-generated
    array of (idx, line, keep) structs exploded and filtered, so the
    whole render is a single-pass projection over the counts row."""
    impact = get_delete_impact(triples, resource)

    def _line(idx: int, n: Column, text: Column, always: bool = False):
        return F.struct(
            F.lit(idx).alias("idx"),
            text.alias("line"),
            (F.lit(True) if always else (n > 0)).alias("keep"),
        )

    c = F.col
    lines = F.array(
        _line(
            0,
            c("total_affected"),
            F.concat(
                F.lit("Deleting **"),
                F.lit(resource),
                F.lit("** will remove "),
                c("total_affected").cast("string"),
                F.lit(" triple(s)."),
            ),
            always=True,
        ),
        _line(
            1,
            c("subclasses"),
            F.concat(
                F.lit("- "), c("subclasses").cast("string"),
                F.lit(" subclass link(s) lost"),
            ),
        ),
        _line(
            2,
            c("instances"),
            F.concat(
                F.lit("- "), c("instances").cast("string"),
                F.lit(" instance(s) lose their class type"),
            ),
        ),
        _line(
            3,
            c("domain_of"),
            F.concat(
                F.lit("- "), c("domain_of").cast("string"),
                F.lit(" property domain reference(s) lost"),
            ),
        ),
        _line(
            4,
            c("range_of"),
            F.concat(
                F.lit("- "), c("range_of").cast("string"),
                F.lit(" property range reference(s) lost"),
            ),
        ),
        _line(
            5,
            c("inbound_references"),
            F.concat(
                F.lit("- "), c("inbound_references").cast("string"),
                F.lit(" inbound relation(s) removed"),
            ),
        ),
        _line(
            6,
            c("as_predicate"),
            F.concat(
                F.lit("- "), c("as_predicate").cast("string"),
                F.lit(" property assertion(s) removed"),
            ),
        ),
    )
    return (
        impact.select(F.explode(lines).alias("l"))
        .filter(F.col("l.keep"))
        .select(F.col("l.idx").alias("idx"), F.col("l.line").alias("line"))
        .orderBy("idx")
    )


# --------------------------------------------------------------------------
# ontology display-name heuristic (reference app.py:3730-3739)
# --------------------------------------------------------------------------


def infer_display_name(triples: DataFrame, base_uri: str) -> DataFrame:
    """One row (uri, display_name): the reference's main-area ontology
    title heuristic (``app.py:3730-3739``) — metadata ``rdfs:label`` if
    present, else derived from the namespace URI: strip trailing ``#``/
    ``/``, split on ``/``, drop empty and scheme (``:``-bearing) parts,
    drop version-number-looking parts (``^v?\\d+[\\d.]*$``), take the
    last survivor (falling back to the last raw part, then the URI).

    One-row projection — the higher-order ``filter`` calls are
    CodegenFallback but operate on a single metadata row."""
    label = (
        triples.filter(
            (F.col("pred") == RDFS.label)
            & (F.col("subj") == F.lit(base_uri.rstrip("#/")))
        )
        .agg(F.min("obj").alias("label"))
    )
    uri = F.lit(base_uri)
    trimmed = F.regexp_replace(uri, r"[#/]+$", "")
    parts = F.filter(
        F.split(trimmed, "/"),
        lambda p: (p != "") & ~p.contains(":"),
    )
    name_parts = F.filter(
        parts, lambda p: ~p.rlike(r"^v?\d+[\d.]*$")
    )
    derived = F.coalesce(
        F.try_element_at(name_parts, F.lit(-1)),
        F.try_element_at(parts, F.lit(-1)),
        uri,
    )
    return label.select(
        uri.alias("uri"),
        F.coalesce(
            F.when(F.col("label") != "", F.col("label")), derived
        ).alias("display_name"),
    )


# --------------------------------------------------------------------------
# viz expansion layers (reference app.py:3236-3402)
# --------------------------------------------------------------------------


def viz_annotation_layer(triples: DataFrame, max_new: int = 500) -> DataFrame:
    """(src, ann_id, pred_name, value_display, value): annotation box
    nodes attached to visible class/individual nodes (reference
    ``app.py:3236-3294``).  Skips predicates whose local name is
    ``label``/``comment`` (already in the node tooltip), truncates the
    rendered value at 30 chars with ``...``, and caps new nodes
    deterministically (the reference counts toward ``max_nodes=500`` in
    UI iteration order; here the cap is a sorted ``limit``).

    ``ann_id`` is a portable content hash (md5 of subj|pred|value) so
    the same annotation gets the same node id on any engine."""
    visible = (
        type_slice(triples, OWL.Class)
        .unionByName(type_slice(triples, OWL.NamedIndividual))
        .filter(~F.col("subj").startswith("_:"))
        .select("subj")
        .distinct()
    )
    anns = (
        triples.join(F.broadcast(visible), "subj", "left_semi")
        .filter(
            (~F.col("pred").isin(*STRUCTURAL_PREDICATES))
            & (F.col("obj_kind") == "literal")
            & ~local_name_col(F.col("pred")).isin("label", "comment")
        )
        .select(
            F.col("subj").alias("src"),
            F.concat(
                F.lit("ann_"),
                F.substring(
                    F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")), 1, 8
                ),
            ).alias("ann_id"),
            local_name_col(F.col("pred")).alias("pred_name"),
            F.when(
                F.length("obj") > 30,
                F.concat(F.substring("obj", 1, 30), F.lit("...")),
            ).otherwise(F.col("obj")).alias("value_display"),
            F.col("obj").alias("value"),
        )
        .distinct()
    )
    return anns.orderBy("src", "pred_name", "value").limit(max_new)


def viz_triple_expansion(triples: DataFrame, max_new: int = 200) -> DataFrame:
    """(src, pred_name, obj_id, obj_label, obj_kind, is_new): raw-triple
    expansion of the visible graph (reference ``app.py:3339-3402``).

    Subjects are the visible class/individual/concept nodes.  URI
    objects already visible link directly (``is_new = false``, never
    capped); unseen URI objects and literal objects become new box
    nodes, capped at ``max_new`` (the reference's ``_max_triple_new =
    200``, ``app.py:3356``) — deterministically by node id (the
    reference caps in graph-iteration order).  The cap ranking is a
    single-partition ``row_number`` window over at most
    (visible-subjects x their triples) rows — bounded by the viz caps,
    not by graph size, so the narrow window is safe at any scale.

    Literal node ids hash (subj, pred, value) — the same literal under
    two subjects is two boxes, as in the reference; URI node ids are
    the URI's own md5 so each URI lands once."""
    from pyspark.sql.window import Window

    visible = (
        type_slice(triples, OWL.Class)
        .unionByName(type_slice(triples, OWL.NamedIndividual))
        .unionByName(type_slice(triples, SKOS.Concept))
        .filter(~F.col("subj").startswith("_:"))
        .select("subj")
        .distinct()
    )
    sub = triples.join(F.broadcast(visible), "subj", "left_semi").filter(
        F.col("pred") != RDF.type
    )
    uri_objs = sub.filter(F.col("obj_kind") == "uri")
    vis_obj = visible.withColumnRenamed("subj", "obj")
    linked = uri_objs.join(F.broadcast(vis_obj), "obj", "left_semi").select(
        F.col("subj").alias("src"),
        local_name_col(F.col("pred")).alias("pred_name"),
        F.col("obj").alias("obj_id"),
        local_name_col(F.col("obj")).alias("obj_label"),
        F.lit("uri").alias("obj_kind"),
        F.lit(False).alias("is_new"),
    )
    new_uri = (
        uri_objs.join(F.broadcast(vis_obj), "obj", "left_anti")
        .select(
            F.col("subj").alias("src"),
            local_name_col(F.col("pred")).alias("pred_name"),
            F.concat(
                F.lit("triple_"), F.substring(F.md5("obj"), 1, 8)
            ).alias("obj_id"),
            local_name_col(F.col("obj")).alias("obj_label"),
            F.lit("uri").alias("obj_kind"),
        )
    )
    lits = sub.filter(F.col("obj_kind") == "literal").select(
        F.col("subj").alias("src"),
        local_name_col(F.col("pred")).alias("pred_name"),
        F.concat(
            F.lit("lit_"),
            F.substring(
                F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")), 1, 8
            ),
        ).alias("obj_id"),
        F.when(
            F.length("obj") > 30,
            F.concat(F.substring("obj", 1, 30), F.lit("...")),
        ).otherwise(F.col("obj")).alias("obj_label"),
        F.lit("literal").alias("obj_kind"),
    )
    new_nodes = new_uri.unionByName(lits).distinct()
    kept_ids = (
        new_nodes.select("obj_id")
        .distinct()
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy("obj_id")),
        )
        .filter(F.col("rank") <= max_new)
        .drop("rank")
    )
    kept = new_nodes.join(F.broadcast(kept_ids), "obj_id", "left_semi").select(
        "src", "pred_name", "obj_id", "obj_label", "obj_kind",
        F.lit(True).alias("is_new"),
    )
    return linked.unionByName(kept).orderBy(
        "src", "pred_name", "obj_id"
    )


# --------------------------------------------------------------------------
# closure-aware instance counting
# --------------------------------------------------------------------------


def deep_instance_counts(triples: DataFrame) -> DataFrame:
    """(class_uri, n_direct, n_deep) — per-class instance counts, where
    ``n_deep`` rolls every instance up through the rdfs:subClassOf
    closure (an instance of Employee also counts for Person).  The
    closure-aware twin of the reference's per-class counts
    (``app.py`` hierarchy pane shows direct counts only); deep counts
    are what a 10^12-document KG's coverage dashboard actually needs.

    Scale shape: the class list and the subclass closure are
    vocabulary-sized — both broadcast.  The only data-scale work is the
    rdf:type scan; direct and deep counts are two-phase countDistinct
    aggs keyed on (class, ind) with map-side partials, so a hot root
    class (every individual rolls up to it) pre-aggregates per
    partition instead of hot-keying one reducer.  ``typed`` is a
    map-side projection, so the double scan beats caching data-scale
    rows."""
    from .fixpoint import expand_superclasses

    classes = (
        triples.filter(
            (F.col("pred") == RDF.type) & (F.col("obj") == OWL.Class)
        )
        .select(F.col("subj").alias("cls"))
        .distinct()
    )
    anc = (
        expand_superclasses(triples, RDFS.subClassOf)
        .unionByName(
            classes.select("cls", F.col("cls").alias("ancestor"))
        )
        .distinct()
    )
    typed = (
        triples.filter(F.col("pred") == RDF.type)
        .join(
            F.broadcast(classes),
            F.col("obj") == F.col("cls"),
            "left_semi",
        )
        .select(F.col("subj").alias("ind"), F.col("obj").alias("cls"))
    )
    direct = typed.groupBy("cls").agg(
        F.count_distinct("ind").alias("n_direct")
    )
    deep = (
        typed.join(F.broadcast(anc), "cls")
        .groupBy(F.col("ancestor").alias("cls"))
        .agg(F.count_distinct("ind").alias("n_deep"))
    )
    return (
        classes.join(direct, "cls", "left")
        .join(deep, "cls", "left")
        .select(
            F.col("cls").alias("class_uri"),
            F.coalesce("n_direct", F.lit(0)).alias("n_direct"),
            F.coalesce("n_deep", F.lit(0)).alias("n_deep"),
        )
        .orderBy("class_uri")
    )


def deep_instance_counts_sql(triples_cte: str) -> str:
    """DuckDB twin over a ``triples`` CTE (recursive closure; shared
    CTEs MATERIALIZED — DuckDB re-inlines per reference site)."""
    return f"""{triples_cte},
classes AS MATERIALIZED (
  SELECT DISTINCT subj AS cls FROM triples
  WHERE pred = '{RDF.type}' AND obj = '{OWL.Class}'),
edges AS (
  SELECT subj AS cls, obj AS parent FROM triples
  WHERE pred = '{RDFS.subClassOf}'),
anc AS MATERIALIZED (
  WITH RECURSIVE r(cls, ancestor) AS (
    SELECT cls, cls FROM classes
    UNION
    SELECT r.cls, e.parent FROM r JOIN edges e ON r.ancestor = e.cls)
  SELECT * FROM r),
typed AS MATERIALIZED (
  SELECT t.subj AS ind, t.obj AS cls
  FROM triples t JOIN classes c ON t.obj = c.cls
  WHERE t.pred = '{RDF.type}'),
direct AS (
  SELECT cls, count(DISTINCT ind)::BIGINT AS n_direct
  FROM typed GROUP BY cls),
deep AS (
  SELECT a.ancestor AS cls, count(DISTINCT t.ind)::BIGINT AS n_deep
  FROM typed t JOIN anc a ON t.cls = a.cls GROUP BY 1)
SELECT c.cls AS class_uri,
  coalesce(d.n_direct, 0) AS n_direct,
  coalesce(p.n_deep, 0) AS n_deep
FROM classes c
LEFT JOIN direct d ON c.cls = d.cls
LEFT JOIN deep p ON c.cls = p.cls
ORDER BY class_uri
"""


# --------------------------------------------------------------------------
# locality-based module extraction
# --------------------------------------------------------------------------

#: axiom-dependency predicates followed during module extraction (the
#: structural set minus rdf:type — typing edges would pull every
#: instance — plus the restriction/list machinery that bridges bnodes).
MODULE_EDGE_PREDS = sorted(
    (STRUCTURAL_PREDICATES - {RDF.type})
    | {
        OWL.someValuesFrom,
        OWL.allValuesFrom,
        OWL.hasValue,
        OWL.onClass,
        OWL.unionOf,
        OWL.intersectionOf,
        OWL.complementOf,
        OWL.disjointUnionOf,
        OWL.propertyChainAxiom,
        OWL.hasKey,
        OWL.distinctMembers,
        RDF.first,
        RDF.rest,
    }
)


def extract_module(triples: DataFrame, seeds: list[str]) -> DataFrame:
    """The sub-ontology a seed signature depends on: follow the
    axiom-dependency edges (subclass/equivalence/property topology,
    restriction bnodes, RDF-list spines) transitively from ``seeds``
    and keep every triple asserted about a reached entity.  The
    syntactic locality-module idea (OWL modularity literature; the
    OWL-API offers the same extraction) — what you ship when a
    downstream team needs "just the part of the 10^6-class ontology
    that Employee touches".

    Scale shape: the dependency graph is axiom-scale (schema + bnode
    machinery, no instance typing edges), so its transitive closure —
    the doubling fixpoint — runs on vocabulary-sized tables; the only
    data-scale pass is the final broadcast semi-join selecting the
    module's triples."""
    from .fixpoint import transitive_closure

    edges = triples.filter(
        F.col("pred").isin(MODULE_EDGE_PREDS)
        & F.col("obj_kind").isin("uri", "bnode")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    seed_df = triples.sparkSession.createDataFrame(
        [(s,) for s in seeds], "entity string"
    )
    reach = (
        transitive_closure(edges)
        .join(
            F.broadcast(seed_df),
            F.col("src") == F.col("entity"),
            "left_semi",
        )
        .select(F.col("dst").alias("entity"))
    )
    module_entities = seed_df.unionByName(reach).distinct()
    return (
        triples.join(
            F.broadcast(module_entities),
            triples["subj"] == module_entities["entity"],
            "left_semi",
        )
        .orderBy("subj", "pred", "obj")
    )


def extract_module_sql(triples_cte: str, seeds: list[str]) -> str:
    """DuckDB twin (recursive reachability over the same edge set)."""
    preds = ", ".join(f"'{p}'" for p in MODULE_EDGE_PREDS)
    seed_vals = ", ".join(f"('{s}')" for s in seeds)
    return f"""{triples_cte},
seeds(entity) AS (VALUES {seed_vals}),
dep AS (
  SELECT subj AS src, obj AS dst FROM triples
  WHERE pred IN ({preds}) AND obj_kind IN ('uri', 'bnode')),
reach AS (
  WITH RECURSIVE r(entity) AS (
    SELECT entity FROM seeds
    UNION
    SELECT d.dst FROM r JOIN dep d ON d.src = r.entity)
  SELECT * FROM r)
SELECT t.subj, t.pred, t.obj, t.obj_kind, t.obj_lang, t.obj_dt
FROM triples t JOIN (SELECT DISTINCT entity FROM reach) m
  ON t.subj = m.entity
ORDER BY subj, pred, obj
"""


def viz_property_edges(
    triples: DataFrame, max_per_layer: int = 500
) -> DataFrame:
    """(src, dst, kind, label) — the two viz edge layers beyond the
    taxonomy: object-property schema edges drawn domain -> range when
    BOTH ends are visible classes (reference ``app.py:3132-3144``),
    and individual -> individual assertion edges for triples whose
    predicate is a declared object property (``app.py:3209-3217``).
    Same both-ends visibility rule as viz_edges.

    Scale shape: property/domain/range tables are schema-sized
    (broadcast); the assertion layer is one predicate-semi-join slice
    of the triples scan followed by two visibility semi-joins."""
    nodes = viz_nodes(triples, max_per_layer).select(F.col("id"))

    def both_ends(df):
        return (
            df.join(nodes.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(nodes.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )

    props = type_slice(triples, OWL.ObjectProperty).select(
        F.col("subj").alias("prop")
    )
    dom = triples.filter(F.col("pred") == RDFS.domain).select(
        F.col("subj").alias("prop"), F.col("obj").alias("src")
    )
    rng = triples.filter(F.col("pred") == RDFS.range).select(
        F.col("subj").alias("prop"), F.col("obj").alias("dst")
    )
    schema_edges = both_ends(
        props.join(dom, "prop")
        .join(rng, "prop")
        .select(
            "src",
            "dst",
            F.lit("property").alias("kind"),
            local_name_col(F.col("prop")).alias("label"),
        )
    )
    assertions = both_ends(
        triples.join(
            F.broadcast(props),
            triples["pred"] == props["prop"],
            "left_semi",
        )
        .filter(F.col("obj_kind") == "uri")
        .select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.lit("assertion").alias("kind"),
            local_name_col(F.col("pred")).alias("label"),
        )
    )
    return (
        schema_edges.unionByName(assertions)
        .distinct()
        .orderBy("kind", "src", "dst", "label")
    )


def viz_property_edges_sql(triples_cte: str, max_per_layer: int = 500) -> str:
    """DuckDB twin (shares viz_nodes' per-layer cap semantics)."""
    return f"""{triples_cte},
labels AS (
  SELECT subj, min(obj) AS label FROM triples
  WHERE pred IN ('{RDFS.label}', '{SKOS.prefLabel}')
  GROUP BY subj),
nodes AS MATERIALIZED (
  SELECT id FROM (
    SELECT t.subj AS id FROM (
      SELECT DISTINCT subj FROM triples
      WHERE pred = '{RDF.type}' AND obj = '{OWL.Class}'
        AND NOT starts_with(subj, '_:')) t
    ORDER BY t.subj LIMIT {max_per_layer})
  UNION
  SELECT id FROM (
    SELECT t.subj AS id FROM (
      SELECT DISTINCT subj FROM triples
      WHERE pred = '{RDF.type}' AND obj = '{OWL.NamedIndividual}'
        AND NOT starts_with(subj, '_:')) t
    ORDER BY t.subj LIMIT {max_per_layer})
  UNION
  SELECT id FROM (
    SELECT t.subj AS id FROM (
      SELECT DISTINCT subj FROM triples
      WHERE pred = '{RDF.type}' AND obj = '{SKOS.Concept}'
        AND NOT starts_with(subj, '_:')) t
    ORDER BY t.subj LIMIT {max_per_layer})),
props AS (
  SELECT DISTINCT subj AS prop FROM triples
  WHERE pred = '{RDF.type}' AND obj = '{OWL.ObjectProperty}'),
schema_edges AS (
  SELECT d.obj AS src, r.obj AS dst, 'property' AS kind,
    coalesce(nullif(regexp_extract(p.prop, '([^/#]+)$', 1), ''), p.prop)
      AS label
  FROM props p
  JOIN (SELECT subj, obj FROM triples WHERE pred = '{RDFS.domain}') d
    ON d.subj = p.prop
  JOIN (SELECT subj, obj FROM triples WHERE pred = '{RDFS.range}') r
    ON r.subj = p.prop),
assertions AS (
  SELECT t.subj AS src, t.obj AS dst, 'assertion' AS kind,
    coalesce(nullif(regexp_extract(t.pred, '([^/#]+)$', 1), ''), t.pred)
      AS label
  FROM triples t
  WHERE t.pred IN (SELECT prop FROM props) AND t.obj_kind = 'uri'),
unioned AS (
  SELECT * FROM schema_edges UNION SELECT * FROM assertions)
SELECT DISTINCT u.src, u.dst, u.kind, u.label
FROM unioned u
JOIN nodes ns ON u.src = ns.id
JOIN nodes nd ON u.dst = nd.id
ORDER BY kind, src, dst, label
"""


# ---------------------------------------------------------------------------
# Entity summarization / fact ranking (RELIN, Cheng et al. ISWC 2011;
# FACES — public entity-summarization literature, simplified to
# informativeness ranking).  The reference app renders a resource
# detail view with EVERY triple (app.py resource browser); at web
# scale an entity card must instead show the k most informative
# facts — rare predicates and rare values first, boilerplate
# (rdf:type owl:NamedIndividual on everything) last.
# ---------------------------------------------------------------------------


def fact_ranking(triples: DataFrame, k: int = 3) -> DataFrame:
    """(subj, rank, pred, obj, pred_idf, score) — top-``k`` facts per
    subject by two-factor informativeness:

        pred_idf   = N / df(pred)          (linear predicate IDF)
        val_rarity = df(pred) / df(pred, obj)
        score      = pred_idf * val_rarity

    where ``N`` = distinct subjects, ``df(pred)`` = subjects carrying
    the predicate, ``df(pred, obj)`` = subjects carrying the exact
    fact.  Linear (not log) factors keep the arithmetic to
    correctly-rounded IEEE * and /, so the ranking is cross-engine
    deterministic (same rationale as tfidf_topk); ties break on
    (pred, obj) ascending.

    Scale shape: one distinct-fact projection feeds three keyed
    aggregates (all map-side combinable); df tables join back on their
    own grouping keys — (pred) broadcast-sized (vocabulary), (pred,
    obj, obj_kind) an equi-join; N is a 1-row broadcast crossJoin.
    The final per-subject top-k is one window over the subject key."""
    from pyspark.sql import Window

    facts = triples.select("subj", "pred", "obj", "obj_kind").distinct()
    n = facts.select(F.countDistinct("subj").alias("n_subj"))
    dfp = facts.groupBy("pred").agg(F.countDistinct("subj").alias("df_pred"))
    dfo = facts.groupBy("pred", "obj", "obj_kind").agg(
        F.countDistinct("subj").alias("df_fact")
    )
    scored = (
        facts.join(dfo, ["pred", "obj", "obj_kind"])
        .join(F.broadcast(dfp), "pred")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pred_idf", F.col("n_subj") / F.col("df_pred").cast("double")
        )
        .withColumn(
            "score",
            (F.col("n_subj") / F.col("df_pred").cast("double"))
            * (F.col("df_pred") / F.col("df_fact").cast("double")),
        )
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("score").desc(), F.col("pred"), F.col("obj")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("subj", "rank", "pred", "obj", "pred_idf", "score")
        .orderBy("subj", "rank")
    )


def fact_ranking_sql(triples_src: str = "triples", k: int = 3) -> str:
    """DuckDB twin — compose after a CTE defining ``triples(subj,
    pred, obj, obj_kind, ...)``."""
    return f"""
facts AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj, obj_kind FROM {triples_src}),
nsub AS (SELECT count(DISTINCT subj)::BIGINT AS n_subj FROM facts),
dfp AS (SELECT pred, count(DISTINCT subj)::BIGINT AS df_pred
        FROM facts GROUP BY pred),
dfo AS (SELECT pred, obj, obj_kind,
               count(DISTINCT subj)::BIGINT AS df_fact
        FROM facts GROUP BY pred, obj, obj_kind),
scored AS (
  SELECT f.subj, f.pred, f.obj,
    nsub.n_subj / dfp.df_pred::DOUBLE AS pred_idf,
    (nsub.n_subj / dfp.df_pred::DOUBLE)
      * (dfp.df_pred / dfo.df_fact::DOUBLE) AS score,
    row_number() OVER (PARTITION BY f.subj
      ORDER BY (nsub.n_subj / dfp.df_pred::DOUBLE)
        * (dfp.df_pred / dfo.df_fact::DOUBLE) DESC,
        f.pred, f.obj) AS rank
  FROM facts f
  JOIN dfo ON f.pred = dfo.pred AND f.obj = dfo.obj
          AND f.obj_kind = dfo.obj_kind
  JOIN dfp ON f.pred = dfp.pred
  CROSS JOIN nsub)
SELECT subj, rank::BIGINT AS rank, pred, obj, pred_idf, score
FROM scored WHERE rank <= {k}
ORDER BY subj, rank"""


# ---------------------------------------------------------------------------
# Ontology shape metrics (OntoQA, Tartir et al. 2005 — public schema-
# metric literature).  The reference's get_statistics counts entity
# KINDS; these metrics grade the subClassOf backbone's SHAPE — depth,
# tangledness, fan-out — the health readout a curator needs after
# bulk imports or Hearst-pattern merges graft new hierarchy in.
# ---------------------------------------------------------------------------


def ontology_metrics(triples: DataFrame) -> DataFrame:
    """One row: (n_classes, n_edges, n_roots, n_leaves, n_multi_parent,
    max_fanout, max_depth, avg_depth, inheritance_richness).

    * class universe = typed owl:Class subjects ∪ subClassOf endpoints
    * depth(c) = |distinct proper ancestors of c| — equals path length
      on trees, and stays well-defined (and cycle-safe) on tangled DAGs
    * n_multi_parent = classes asserting >= 2 direct parents
      (tangledness), max_fanout = max direct children per class
    * inheritance_richness = n_edges / n_classes (OntoQA IR)

    Scale shape: schema-sized inputs (class vocabulary), so every join
    broadcasts at corpus scale; the ancestor closure reuses the
    doubling ``fixpoint.transitive_closure`` (O(log depth) shuffles);
    all rollups are 1-row aggregates crossJoined together."""
    from .fixpoint import transitive_closure
    from ..model import OWL, RDF, RDFS

    edges = (
        triples.filter(
            (F.col("pred") == RDFS.subClassOf) & (F.col("obj_kind") == "uri")
        )
        .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
        .distinct()
    )
    typed = (
        triples.filter((F.col("pred") == RDF.type) & (F.col("obj") == OWL.Class))
        .select(F.col("subj").alias("cls"))
    )
    classes = (
        typed.union(edges.select(F.col("child").alias("cls")))
        .union(edges.select(F.col("parent").alias("cls")))
        .distinct()
    )
    closure = transitive_closure(edges, "child", "parent")
    depths = (
        classes.join(closure, classes["cls"] == closure["child"], "left")
        .groupBy("cls")
        .agg(F.count("parent").alias("depth"))
    )
    parents = edges.groupBy("child").agg(F.count("*").alias("n_par"))
    fanout = edges.groupBy("parent").agg(F.count("*").alias("n_chl"))

    n_cls = classes.agg(F.count("*").alias("n_classes"))
    n_edg = edges.agg(F.count("*").alias("n_edges"))
    n_roots = classes.join(
        edges.select(F.col("child").alias("cls")).distinct(), "cls", "left_anti"
    ).agg(F.count("*").alias("n_roots"))
    n_leaves = classes.join(
        edges.select(F.col("parent").alias("cls")).distinct(), "cls", "left_anti"
    ).agg(F.count("*").alias("n_leaves"))
    n_multi = parents.filter(F.col("n_par") >= 2).agg(
        F.count("*").alias("n_multi_parent")
    )
    mf = fanout.agg(F.coalesce(F.max("n_chl"), F.lit(0)).alias("max_fanout"))
    dd = depths.agg(
        F.max("depth").alias("max_depth"), F.sum("depth").alias("sum_depth")
    )
    return (
        n_cls.crossJoin(n_edg)
        .crossJoin(n_roots)
        .crossJoin(n_leaves)
        .crossJoin(n_multi)
        .crossJoin(mf)
        .crossJoin(dd)
        .select(
            "n_classes",
            "n_edges",
            "n_roots",
            "n_leaves",
            "n_multi_parent",
            "max_fanout",
            "max_depth",
            (F.col("sum_depth") / F.col("n_classes").cast("double")).alias(
                "avg_depth"
            ),
            (F.col("n_edges") / F.col("n_classes").cast("double")).alias(
                "inheritance_richness"
            ),
        )
    )


def ontology_metrics_sql(triples_src: str = "triples") -> str:
    """DuckDB twin (needs a ``WITH RECURSIVE`` prefix on the WITH list;
    the UNION-distinct recursive CTE is cycle-safe like the doubling
    closure)."""
    from ..model import OWL, RDF, RDFS

    return f"""
edges AS MATERIALIZED (
  SELECT DISTINCT subj AS child, obj AS parent FROM {triples_src}
  WHERE pred = '{RDFS.subClassOf}' AND obj_kind = 'uri'),
classes AS MATERIALIZED (
  SELECT DISTINCT cls FROM (
    SELECT subj AS cls FROM {triples_src}
    WHERE pred = '{RDF.type}' AND obj = '{OWL.Class}'
    UNION SELECT child FROM edges UNION SELECT parent FROM edges)),
anc AS (
  SELECT child, parent AS a FROM edges
  UNION
  SELECT anc.child, e.parent FROM anc JOIN edges e ON anc.a = e.child),
depths AS (
  SELECT c.cls, count(a.a)::BIGINT AS depth
  FROM classes c LEFT JOIN anc a ON c.cls = a.child GROUP BY c.cls),
par AS (SELECT child, count(*)::BIGINT AS n_par FROM edges GROUP BY child),
fan AS (SELECT parent, count(*)::BIGINT AS n_chl FROM edges GROUP BY parent)
SELECT
  (SELECT count(*)::BIGINT FROM classes) AS n_classes,
  (SELECT count(*)::BIGINT FROM edges) AS n_edges,
  (SELECT count(*)::BIGINT FROM classes
   WHERE cls NOT IN (SELECT child FROM edges)) AS n_roots,
  (SELECT count(*)::BIGINT FROM classes
   WHERE cls NOT IN (SELECT parent FROM edges)) AS n_leaves,
  (SELECT count(*)::BIGINT FROM par WHERE n_par >= 2) AS n_multi_parent,
  (SELECT coalesce(max(n_chl), 0)::BIGINT FROM fan) AS max_fanout,
  (SELECT max(depth)::BIGINT FROM depths) AS max_depth,
  (SELECT sum(depth) FROM depths)
    / (SELECT count(*) FROM classes)::DOUBLE AS avg_depth,
  (SELECT count(*) FROM edges)
    / (SELECT count(*) FROM classes)::DOUBLE AS inheritance_richness"""


# ---------------------------------------------------------------------------
# VoID dataset description (W3C VoID vocabulary, public spec): the
# dataset-level statistics block (void:triples, void:classPartition,
# void:propertyPartition) publishers attach to an RDF dump.  The
# reference's get_statistics counts UI entity kinds; VoID is the
# interchange summary another system reads before deciding how to
# ingest — at 100 TB it is also the partition-planning input.
# ---------------------------------------------------------------------------


def void_summary(triples: DataFrame) -> DataFrame:
    """(section, key, n) rows:

    * section='dataset': triples / distinct_subjects / distinct_objects
      / properties / classes (void:triples, void:distinctSubjects, ...)
    * section='class_partition', key=<class>: void:entities per class
    * section='property_partition', key=<pred>: void:triples per pred

    Scale shape: one pass of keyed aggregates (all map-side
    combinable); the dataset-level distincts are single hash
    aggregates.  Output is vocabulary-sized."""
    from ..model import RDF

    ds = triples.agg(
        F.count("*").alias("triples"),
        F.countDistinct("subj").alias("distinct_subjects"),
        F.countDistinct("obj").alias("distinct_objects"),
        F.countDistinct("pred").alias("properties"),
        F.countDistinct(
            F.when(F.col("pred") == RDF.type, F.col("obj"))
        ).alias("classes"),
    )
    dataset = ds.selectExpr(
        "stack(5, 'triples', triples, 'distinct_subjects', distinct_subjects,"
        " 'distinct_objects', distinct_objects, 'properties', properties,"
        " 'classes', classes) AS (key, n)"
    ).select(F.lit("dataset").alias("section"), "key", "n")
    cls = (
        triples.filter(F.col("pred") == RDF.type)
        .groupBy(F.col("obj").alias("key"))
        .agg(F.countDistinct("subj").alias("n"))
        .select(F.lit("class_partition").alias("section"), "key", "n")
    )
    prop = (
        triples.groupBy(F.col("pred").alias("key"))
        .agg(F.count("*").alias("n"))
        .select(F.lit("property_partition").alias("section"), "key", "n")
    )
    return dataset.unionByName(cls).unionByName(prop).orderBy(
        "section", "key"
    )


def void_summary_sql(triples_src: str = "triples") -> str:
    """DuckDB twin — compose after a CTE defining ``triples``."""
    from ..model import RDF

    return f"""
SELECT * FROM (
  SELECT 'dataset' AS section, k.key,
    CASE k.key
      WHEN 'triples' THEN (SELECT count(*) FROM {triples_src})
      WHEN 'distinct_subjects' THEN (SELECT count(DISTINCT subj) FROM {triples_src})
      WHEN 'distinct_objects' THEN (SELECT count(DISTINCT obj) FROM {triples_src})
      WHEN 'properties' THEN (SELECT count(DISTINCT pred) FROM {triples_src})
      WHEN 'classes' THEN (SELECT count(DISTINCT obj) FROM {triples_src}
                           WHERE pred = '{RDF.type}')
    END::BIGINT AS n
  FROM (VALUES ('triples'), ('distinct_subjects'), ('distinct_objects'),
               ('properties'), ('classes')) k(key)
  UNION ALL
  SELECT 'class_partition', obj, count(DISTINCT subj)::BIGINT
  FROM {triples_src} WHERE pred = '{RDF.type}' GROUP BY obj
  UNION ALL
  SELECT 'property_partition', pred, count(*)::BIGINT
  FROM {triples_src} GROUP BY pred)
ORDER BY section, key"""


# ---------------------------------------------------------------------------
# SKOS-XL label flattening (W3C SKOS-XL, public spec): thesauri that
# need per-label provenance reify labels as skosxl:Label nodes
# (concept -[skosxl:prefLabel]-> node -[skosxl:literalForm]-> "text").
# Plain-SKOS consumers (every view in this engine, the reference's
# SKOS browser) need the flat concept->literal form back.
# ---------------------------------------------------------------------------


def flatten_skosxl(triples: DataFrame) -> DataFrame:
    """(concept, label_kind, label_node, literal, lang) — one row per
    SKOS-XL label carried by a concept, ``label_kind`` in {pref, alt,
    hidden} (from the pointing predicate); label nodes missing a
    literalForm are dropped (nothing to flatten).

    Scale shape: two predicate-pushed projections + ONE equi-join on
    the label-node id; label tables are vocabulary-sized, so both
    sides broadcast at corpus scale.  The deterministic min literal
    per (concept, kind, node) mirrors graph.value-style first-pick."""
    from ..model import SKOSXL

    kinds = {
        SKOSXL.prefLabel: "pref",
        SKOSXL.altLabel: "alt",
        SKOSXL.hiddenLabel: "hidden",
    }
    kind_expr = None
    for uri, short in kinds.items():
        c = F.col("pred") == uri
        kind_expr = (
            F.when(c, short) if kind_expr is None else kind_expr.when(c, short)
        )
    pointers = triples.filter(F.col("pred").isin(list(kinds))).select(
        F.col("subj").alias("concept"),
        kind_expr.alias("label_kind"),
        F.col("obj").alias("label_node"),
    )
    # null lang sorts LAST via the max-codepoint sentinel — identical
    # to the DuckDB twin's chr(1114111) coalesce, so the min pick
    # agrees when a node carries both tagged and untagged forms
    sentinel = "\U0010ffff"
    forms = (
        triples.filter(F.col("pred") == SKOSXL.literalForm)
        .groupBy(F.col("subj").alias("label_node"))
        .agg(
            F.min(
                F.struct(
                    F.col("obj"),
                    F.coalesce("obj_lang", F.lit(sentinel)).alias("lang"),
                )
            ).alias("w")
        )
        .select(
            "label_node",
            F.col("w.obj").alias("literal"),
            F.nullif(F.col("w.lang"), F.lit(sentinel)).alias("lang"),
        )
    )
    return (
        pointers.join(forms, "label_node")
        .select("concept", "label_kind", "label_node", "literal", "lang")
        .orderBy("concept", "label_kind", "label_node")
    )


def flatten_skosxl_sql(triples_src: str = "triples") -> str:
    """DuckDB twin."""
    from ..model import SKOSXL

    return f"""
pointers AS (
  SELECT subj AS concept,
    CASE pred WHEN '{SKOSXL.prefLabel}' THEN 'pref'
              WHEN '{SKOSXL.altLabel}' THEN 'alt'
              ELSE 'hidden' END AS label_kind,
    obj AS label_node
  FROM {triples_src}
  WHERE pred IN ('{SKOSXL.prefLabel}', '{SKOSXL.altLabel}',
                 '{SKOSXL.hiddenLabel}')),
forms AS (
  SELECT subj AS label_node,
    (min(struct_pack(obj := obj,
                     lang := coalesce(obj_lang, chr(1114111))))).obj
      AS literal,
    nullif((min(struct_pack(obj := obj,
                 lang := coalesce(obj_lang, chr(1114111))))).lang,
           chr(1114111)) AS lang
  FROM {triples_src} WHERE pred = '{SKOSXL.literalForm}'
  GROUP BY subj)
SELECT p.concept, p.label_kind, p.label_node, f.literal, f.lang
FROM pointers p JOIN forms f USING (label_node)
ORDER BY concept, label_kind, label_node"""


# ---------------------------------------------------------------------------
# Label-language coverage: the i18n completeness QA — which languages
# label which share of the vocabulary, and how many entities have no
# label at all in a given language.
# ---------------------------------------------------------------------------


def language_coverage(triples: DataFrame) -> DataFrame:
    """(lang, n_labels, n_entities, coverage) — per language tag (the
    literal '(none)' bucket for untagged labels): label row count,
    distinct labeled entities, and their share of ALL label-carrying
    entities.  One pushed filter + two keyed aggs + one broadcast
    1-row total."""
    from ..model import RDFS, SKOS

    label_preds = [RDFS.label, SKOS.prefLabel, SKOS.altLabel]
    labels = triples.filter(F.col("pred").isin(label_preds)).select(
        "subj", F.coalesce("obj_lang", F.lit("(none)")).alias("lang")
    )
    tot = labels.select(
        F.countDistinct("subj").alias("n_total")
    )
    per = labels.groupBy("lang").agg(
        F.count("*").alias("n_labels"),
        F.countDistinct("subj").alias("n_entities"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_labels",
            "n_entities",
            (F.col("n_entities") / F.col("n_total").cast("double")).alias(
                "coverage"
            ),
        )
        .orderBy("lang")
    )


def language_coverage_sql(triples_src: str = "triples") -> str:
    """DuckDB twin."""
    from ..model import RDFS, SKOS

    preds = ", ".join(
        f"'{p}'" for p in (RDFS.label, SKOS.prefLabel, SKOS.altLabel)
    )
    return f"""
labels AS (
  SELECT subj, coalesce(obj_lang, '(none)') AS lang
  FROM {triples_src} WHERE pred IN ({preds})),
tot AS (SELECT count(DISTINCT subj)::BIGINT AS n_total FROM labels)
SELECT lang, count(*)::BIGINT AS n_labels,
  count(DISTINCT subj)::BIGINT AS n_entities,
  count(DISTINCT subj) / (SELECT n_total FROM tot)::DOUBLE AS coverage
FROM labels GROUP BY lang
ORDER BY lang"""


def void_summary_hll(triples: DataFrame) -> DataFrame:
    """(section, key, n_exact, hll_est) — the 100 TB path for
    :func:`void_summary`'s entity statistics: per-class void:entities
    and the dataset's distinct-subject count estimated with the
    engine's portable 256-register HyperLogLog (datapipe/sketches —
    integer registers, so Spark and DuckDB agree bitwise), with the
    exact count alongside as the small-scale truth harness.

    At corpus scale the exact column is dropped and the whole summary
    is ONE pass over the triple table into 256-cell register frames
    per class — map-side combinable, no count-distinct shuffle of raw
    subjects."""
    from ..datapipe.sketches import hll_estimate, hll_register_parts
    from ..model import RDF

    bucket, rho = hll_register_parts(F.col("subj"))
    typed = triples.filter(F.col("pred") == RDF.type).select(
        F.lit("class_partition").alias("section"),
        F.col("obj").alias("key"),
        "subj",
    )
    ds = triples.select(
        F.lit("dataset").alias("section"),
        F.lit("distinct_subjects").alias("key"),
        "subj",
    )
    both = typed.unionByName(ds)
    regs = both.select(
        "section", "key", bucket.alias("bucket"), rho.alias("rho")
    ).groupBy("section", "key", "bucket").agg(F.max("rho").alias("r"))
    est = hll_estimate(regs, ["section", "key"])
    exact = both.groupBy("section", "key").agg(
        F.countDistinct("subj").alias("n_exact")
    )
    return (
        exact.join(est, ["section", "key"])
        .select("section", "key", "n_exact", F.col("est").alias("hll_est"))
        .orderBy("section", "key")
    )


def void_summary_hll_sql(triples_src: str = "triples") -> str:
    """DuckDB twin — same md5 register construction and estimator."""
    from ..datapipe.sketches import HLL_ALPHA, HLL_M, _hex_int_sql
    from ..model import RDF

    h = "md5(subj)"
    w = _hex_int_sql(h, 3, 6)
    m = HLL_M
    return f"""
vsrc AS (
  SELECT 'class_partition' AS section, obj AS key, subj
  FROM {triples_src} WHERE pred = '{RDF.type}'
  UNION ALL
  SELECT 'dataset', 'distinct_subjects', subj FROM {triples_src}),
regs AS (
  SELECT section, key, {_hex_int_sql(h, 1, 2)} AS bucket,
    max(CASE WHEN {w} = 0 THEN 25 ELSE 25 - len(bin({w})) END) AS r
  FROM vsrc GROUP BY 1, 2, 3),
summed AS (
  SELECT section, key,
    (sum((2::BIGINT ^ (25 - r))::BIGINT)::BIGINT
      + ({m} - count(*)) * {1 << 25})::BIGINT AS int_sum,
    ({m} - count(*))::BIGINT AS v_zero
  FROM regs GROUP BY 1, 2),
est AS (
  SELECT section, key,
    CASE WHEN ({HLL_ALPHA * m * m * (1 << 25)!r} / int_sum) <= {2.5 * m}
              AND v_zero > 0
         THEN {float(m)} * ln({float(m)} / v_zero)
         ELSE {HLL_ALPHA * m * m * (1 << 25)!r} / int_sum END AS hll_est
  FROM summed),
exact AS (
  SELECT section, key, count(DISTINCT subj)::BIGINT AS n_exact
  FROM vsrc GROUP BY 1, 2)
SELECT e.section, e.key, e.n_exact, s.hll_est
FROM exact e JOIN est s USING (section, key)
ORDER BY section, key"""


# ---------------------------------------------------------------------------
# SKOS mapping crosswalk: the inter-scheme alignment layer
# (skos:exactMatch / closeMatch / broadMatch / narrowMatch /
# relatedMatch) rolled up per scheme pair — what a curator reads
# before merging two vocabularies, and the SKOS-native output slot
# for align.paris_matches / align_entities verdicts.
# ---------------------------------------------------------------------------


def skos_mappings(triples: DataFrame) -> DataFrame:
    """(match_type, concept_a, scheme_a, concept_b, scheme_b) — one
    row per mapping assertion, both endpoints resolved to their
    skos:inScheme (deterministic min when multi-scheme; NULL when
    unasserted).  Two broadcast-sized joins on the concept id — the
    mapping/scheme tables are vocabulary-scale."""
    from ..model import SKOS

    kinds = {
        SKOS.exactMatch: "exact",
        SKOS.closeMatch: "close",
        SKOS.broadMatch: "broad",
        SKOS.narrowMatch: "narrow",
        SKOS.relatedMatch: "related",
    }
    kind_expr = None
    for uri, short in kinds.items():
        c = F.col("pred") == uri
        kind_expr = (
            F.when(c, short) if kind_expr is None else kind_expr.when(c, short)
        )
    maps = triples.filter(F.col("pred").isin(list(kinds))).select(
        kind_expr.alias("match_type"),
        F.col("subj").alias("concept_a"),
        F.col("obj").alias("concept_b"),
    )
    schemes = (
        triples.filter(F.col("pred") == SKOS.inScheme)
        .groupBy(F.col("subj").alias("c"))
        .agg(F.min("obj").alias("scheme"))
    )
    return (
        maps.join(
            F.broadcast(
                schemes.select(
                    F.col("c").alias("concept_a"),
                    F.col("scheme").alias("scheme_a"),
                )
            ),
            "concept_a",
            "left",
        )
        .join(
            F.broadcast(
                schemes.select(
                    F.col("c").alias("concept_b"),
                    F.col("scheme").alias("scheme_b"),
                )
            ),
            "concept_b",
            "left",
        )
        .select(
            "match_type", "concept_a", "scheme_a", "concept_b", "scheme_b"
        )
        .orderBy("match_type", "concept_a", "concept_b")
    )


def skos_mappings_sql(triples_src: str = "triples") -> str:
    """DuckDB twin."""
    from ..model import SKOS

    kinds = {
        SKOS.exactMatch: "exact",
        SKOS.closeMatch: "close",
        SKOS.broadMatch: "broad",
        SKOS.narrowMatch: "narrow",
        SKOS.relatedMatch: "related",
    }
    whens = " ".join(
        f"WHEN '{u}' THEN '{s}'" for u, s in kinds.items()
    )
    preds = ", ".join(f"'{u}'" for u in kinds)
    return f"""
maps AS (
  SELECT CASE pred {whens} END AS match_type,
         subj AS concept_a, obj AS concept_b
  FROM {triples_src} WHERE pred IN ({preds})),
schemes AS (
  SELECT subj AS c, min(obj) AS scheme FROM {triples_src}
  WHERE pred = '{SKOS.inScheme}' GROUP BY subj)
SELECT m.match_type, m.concept_a, sa.scheme AS scheme_a,
       m.concept_b, sb.scheme AS scheme_b
FROM maps m
LEFT JOIN schemes sa ON m.concept_a = sa.c
LEFT JOIN schemes sb ON m.concept_b = sb.c
ORDER BY match_type, concept_a, concept_b"""


def deprecated_usage(triples: DataFrame) -> DataFrame:
    """(deprecated_entity, used_by, pred, n_uses) — owl:deprecated
    entities that are STILL referenced (as object, or as the predicate
    of live assertions): the version-hygiene report a curator runs
    before deleting; references FROM a deprecated entity to itself
    don't count.

    One pushed filter builds the (tiny) deprecated set; usage is one
    broadcast semi-probe over objects and predicates."""
    from ..model import OWL_NS

    dep = (
        triples.filter(
            (F.col("pred") == OWL_NS + "deprecated")
            & (F.lower("obj") == "true")
        )
        .select(F.col("subj").alias("d"))
        .distinct()
    )
    as_obj = (
        triples.filter(F.col("obj_kind") == "uri")
        .join(F.broadcast(dep), F.col("obj") == F.col("d"))
        .filter(F.col("subj") != F.col("d"))
        .groupBy(
            F.col("d").alias("deprecated_entity"),
            F.col("subj").alias("used_by"),
            F.col("pred"),
        )
        .agg(F.count(F.lit(1)).alias("n_uses"))
    )
    as_pred = (
        triples.join(F.broadcast(dep), F.col("pred") == F.col("d"))
        .filter(F.col("subj") != F.col("d"))
        .groupBy(
            F.col("d").alias("deprecated_entity"),
            F.col("subj").alias("used_by"),
            F.col("pred"),
        )
        .agg(F.count(F.lit(1)).alias("n_uses"))
    )
    return (
        as_obj.unionByName(as_pred)
        .groupBy("deprecated_entity", "used_by", "pred")
        .agg(F.sum("n_uses").alias("n_uses"))
        .orderBy("deprecated_entity", "used_by", "pred")
    )


def deprecated_usage_sql(triples_src: str = "triples") -> str:
    """DuckDB twin."""
    from ..model import OWL_NS

    return f"""
dep AS (
  SELECT DISTINCT subj AS d FROM {triples_src}
  WHERE pred = '{OWL_NS}deprecated' AND lower(obj) = 'true'),
uses AS (
  SELECT dep.d AS deprecated_entity, t.subj AS used_by, t.pred,
         count(*)::BIGINT AS n_uses
  FROM {triples_src} t JOIN dep ON t.obj = dep.d
  WHERE t.obj_kind = 'uri' AND t.subj <> dep.d
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT dep.d, t.subj, t.pred, count(*)::BIGINT
  FROM {triples_src} t JOIN dep ON t.pred = dep.d
  WHERE t.subj <> dep.d
  GROUP BY 1, 2, 3)
SELECT deprecated_entity, used_by, pred, sum(n_uses)::BIGINT AS n_uses
FROM uses GROUP BY 1, 2, 3
ORDER BY deprecated_entity, used_by, pred"""
