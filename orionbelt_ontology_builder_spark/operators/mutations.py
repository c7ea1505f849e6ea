"""Mutation operators: CRUD as pure ``triples -> triples`` transforms
(SURVEY.md §2.8).

The reference mutates an in-memory graph; here every mutation returns a
NEW DataFrame (the versioned-snapshot model — each checkpointed write is
an undoable snapshot, see ``plans.snapshots``).  Single-entity ops are
size-1 batches of the bulk ops: the bulk path (anti-join staged rows
against existing, union remainder) is the primary implementation, matching
how a 1000-executor cluster would actually apply edits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import (
    OWL,
    RDF,
    RDFS,
    SKOS,
    TRIPLE_COLS,
    TRIPLES_SCHEMA,
    XSD,
    XSD_DATATYPES,
    t_lit,
    t_uri,
    type_slice,
    uri,
)


def _rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    from ..model import local_df

    return local_df(spark, rows, TRIPLES_SCHEMA)


def add_triples(triples: DataFrame, new_rows: DataFrame) -> DataFrame:
    """Set-union add (graph.add is idempotent in rdflib)."""
    return triples.unionByName(new_rows).dropDuplicates(TRIPLE_COLS)


def remove_pattern(
    triples: DataFrame,
    subj: str | None = None,
    pred: str | None = None,
    obj: str | None = None,
) -> DataFrame:
    """Remove all triples matching a wildcard (s, p, o) pattern — the
    reference's ``graph.remove((s, p, o))`` with None wildcards
    (``ontology_manager.py:483-485``, ``:874-877``)."""
    cond = F.lit(True)
    if subj is not None:
        cond = cond & (F.col("subj") == subj)
    if pred is not None:
        cond = cond & (F.col("pred") == pred)
    if obj is not None:
        cond = cond & (F.col("obj") == obj)
    return triples.filter(~cond)


# --------------------------------------------------------------------------
# classes (reference ontology_manager.py:303-485)
# --------------------------------------------------------------------------


def add_class(
    triples: DataFrame,
    name: str,
    base: str,
    label: str | None = None,
    comment: str | None = None,
    parent: str | None = None,
) -> DataFrame:
    """Reference ``add_class`` (``:303-318``)."""
    spark = triples.sparkSession
    c = uri(name, base)
    rows = [t_uri(c, RDF.type, OWL.Class)]
    if parent:
        rows.append(t_uri(c, RDFS.subClassOf, uri(parent, base)))
    if label:
        rows.append(t_lit(c, RDFS.label, label))
    if comment:
        rows.append(t_lit(c, RDFS.comment, comment))
    return add_triples(triples, _rows(spark, rows))


def rename_resource(
    triples: DataFrame, old: str, new: str, rename_predicate: bool = False
) -> DataFrame:
    """Rewrite s- and o- (and optionally p-) positions old -> new.

    Covers ``rename_class`` (``:341-369``), ``rename_property``
    (``:837-870``, which also rewrites the predicate position), and
    ``rename_individual`` (``:1025-1053``).  Pure projection — no join,
    map-side only at any scale.
    """
    def rw(c):
        return F.when(F.col(c) == old, F.lit(new)).otherwise(F.col(c))

    out = triples.withColumn("subj", rw("subj")).withColumn(
        "obj",
        F.when(
            (F.col("obj") == old) & (F.col("obj_kind") == "uri"), F.lit(new)
        ).otherwise(F.col("obj")),
    )
    if rename_predicate:
        out = out.withColumn("pred", rw("pred"))
    return out.dropDuplicates(TRIPLE_COLS)


def delete_resource(triples: DataFrame, resource: str, as_predicate: bool = False) -> DataFrame:
    """Remove (r,*,*) and (*,*,r) — reference ``delete_class``
    (``:480-485``); with ``as_predicate`` also (*,r,*) — reference
    ``delete_property`` (``:872-877``)."""
    cond = (F.col("subj") == resource) | (
        (F.col("obj") == resource) & (F.col("obj_kind") != "literal")
    )
    if as_predicate:
        cond = cond | (F.col("pred") == resource)
    return triples.filter(~cond)


def update_annotation(
    triples: DataFrame,
    resource: str,
    pred: str,
    value: str,
    lang: str | None = None,
) -> DataFrame:
    """Upsert: remove-then-add (the reference's update pattern,
    ``ontology_manager.py:320-339``)."""
    spark = triples.sparkSession
    removed = remove_pattern(triples, subj=resource, pred=pred)
    return add_triples(removed, _rows(spark, [t_lit(resource, pred, value, lang)]))


# --------------------------------------------------------------------------
# properties (reference ontology_manager.py:748-877)
# --------------------------------------------------------------------------


def add_object_property(
    triples: DataFrame,
    name: str,
    base: str,
    domain: str | None = None,
    range_: str | None = None,
    label: str | None = None,
    comment: str | None = None,
    characteristics: list[str] | None = None,
    inverse_of: str | None = None,
) -> DataFrame:
    """Reference ``add_object_property`` (``:748-785``)."""
    from ..model import PROPERTY_CHARACTERISTICS

    spark = triples.sparkSession
    p = uri(name, base)
    rows = [t_uri(p, RDF.type, OWL.ObjectProperty)]
    if domain:
        rows.append(t_uri(p, RDFS.domain, uri(domain, base)))
    if range_:
        rows.append(t_uri(p, RDFS.range, uri(range_, base)))
    if label:
        rows.append(t_lit(p, RDFS.label, label))
    if comment:
        rows.append(t_lit(p, RDFS.comment, comment))
    if inverse_of:
        rows.append(t_uri(p, OWL.inverseOf, uri(inverse_of, base)))
    char_map = dict(PROPERTY_CHARACTERISTICS)
    for ch in characteristics or []:
        rows.append(t_uri(p, RDF.type, char_map[ch]))
    return add_triples(triples, _rows(spark, rows))


def add_data_property(
    triples: DataFrame,
    name: str,
    base: str,
    domain: str | None = None,
    range_: str | None = None,
    label: str | None = None,
    functional: bool = False,
) -> DataFrame:
    """Reference ``add_data_property`` (``:787-806``): range resolved via
    the XSD map, unknown -> xsd:string (``:797``)."""
    spark = triples.sparkSession
    p = uri(name, base)
    rows = [t_uri(p, RDF.type, OWL.DatatypeProperty)]
    if domain:
        rows.append(t_uri(p, RDFS.domain, uri(domain, base)))
    rows.append(t_uri(p, RDFS.range, XSD_DATATYPES.get(range_ or "string", XSD.string)))
    if label:
        rows.append(t_lit(p, RDFS.label, label))
    if functional:
        rows.append(t_uri(p, RDF.type, OWL.FunctionalProperty))
    return add_triples(triples, _rows(spark, rows))


# --------------------------------------------------------------------------
# individuals (reference ontology_manager.py:976-1059)
# --------------------------------------------------------------------------


def add_individual(
    triples: DataFrame,
    name: str,
    base: str,
    class_name: str | None = None,
    label: str | None = None,
) -> DataFrame:
    """Reference ``add_individual`` (``:976-990``)."""
    spark = triples.sparkSession
    i = uri(name, base)
    rows = [t_uri(i, RDF.type, OWL.NamedIndividual)]
    if class_name:
        rows.append(t_uri(i, RDF.type, uri(class_name, base)))
    if label:
        rows.append(t_lit(i, RDFS.label, label))
    return add_triples(triples, _rows(spark, rows))


def add_individual_property(
    triples: DataFrame,
    individual: str,
    prop: str,
    value: str,
    is_object: bool,
    base: str,
    lang: str | None = None,
    datatype: str | None = None,
) -> DataFrame:
    """Reference ``add_individual_property`` (``:992-1002``)."""
    spark = triples.sparkSession
    i, p = uri(individual, base), uri(prop, base)
    row = (
        t_uri(i, p, uri(value, base))
        if is_object
        else t_lit(i, p, value, lang, datatype)
    )
    return add_triples(triples, _rows(spark, [row]))


# --------------------------------------------------------------------------
# SKOS (reference ontology_manager.py:1385-1616)
# --------------------------------------------------------------------------

#: short relation names accepted by ``add_concept_relation``
#: (reference ``SKOS_RELATIONS``, ``ontology_manager.py:1371-1377``)
SKOS_RELATIONS = {
    "broader": SKOS.broader,
    "narrower": SKOS.narrower,
    "related": SKOS.related,
    "broadMatch": SKOS.broadMatch,
    "narrowMatch": SKOS.narrowMatch,
    "exactMatch": SKOS.exactMatch,
    "closeMatch": SKOS.closeMatch,
    "relatedMatch": SKOS.relatedMatch,
}

#: symmetric SKOS relations auto-mirrored on add (reference ``:1594-1596``)
SKOS_SYMMETRIC = {SKOS.related, SKOS.closeMatch, SKOS.exactMatch, SKOS.relatedMatch}


def add_concept_scheme(
    triples: DataFrame,
    name: str,
    base: str,
    label: str | None = None,
    comment: str | None = None,
) -> DataFrame:
    """Reference ``add_concept_scheme`` (``:1386-1395``)."""
    spark = triples.sparkSession
    s = uri(name, base)
    rows = [t_uri(s, RDF.type, SKOS.ConceptScheme)]
    if label:
        rows.append(t_lit(s, RDFS.label, label))
    if comment:
        rows.append(t_lit(s, RDFS.comment, comment))
    return add_triples(triples, _rows(spark, rows))


def add_concept(
    triples: DataFrame,
    name: str,
    base: str,
    scheme: str | None = None,
    pref_label: str | None = None,
    definition: str | None = None,
    broader: str | None = None,
    lang: str | None = None,
) -> DataFrame:
    """Reference ``add_concept`` (``:1450-1478``) — note the auto-added
    inverse ``skos:narrower`` edge (``:1473-1476``); prefLabel and
    definition carry the optional language tag."""
    spark = triples.sparkSession
    c = uri(name, base)
    rows = [t_uri(c, RDF.type, SKOS.Concept)]
    if scheme:
        rows.append(t_uri(c, SKOS.inScheme, uri(scheme, base)))
    if pref_label:
        rows.append(t_lit(c, SKOS.prefLabel, pref_label, lang))
    if definition:
        rows.append(t_lit(c, SKOS.definition, definition, lang))
    if broader:
        b = uri(broader, base)
        rows.append(t_uri(c, SKOS.broader, b))
        rows.append(t_uri(b, SKOS.narrower, c))
    return add_triples(triples, _rows(spark, rows))


def add_concept_relation(
    triples: DataFrame, source: str, relation: str, target: str, base: str
) -> DataFrame:
    """Reference ``add_concept_relation`` (``:1575-1596``): short names
    resolve through SKOS_RELATIONS (unknown raises, ``:1584-1585``);
    auto-inverse for broader/narrower, auto-symmetric for related/*Match."""
    spark = triples.sparkSession
    if relation in SKOS_RELATIONS:
        relation = SKOS_RELATIONS[relation]
    elif relation not in SKOS_RELATIONS.values():
        raise ValueError(f"Unknown SKOS relation: {relation}")
    s, t = uri(source, base), uri(target, base)
    rows = [t_uri(s, relation, t)]
    if relation == SKOS.broader:
        rows.append(t_uri(t, SKOS.narrower, s))
    elif relation == SKOS.narrower:
        rows.append(t_uri(t, SKOS.broader, s))
    elif relation in SKOS_SYMMETRIC:
        rows.append(t_uri(t, relation, s))
    return add_triples(triples, _rows(spark, rows))


# --------------------------------------------------------------------------
# typed relations with vocab maps (reference ontology_manager.py:1719-1838)
# --------------------------------------------------------------------------

CLASS_RELATIONS = {
    "subClassOf": RDFS.subClassOf,
    "equivalentClass": OWL.equivalentClass,
    "disjointWith": OWL.disjointWith,
}

PROPERTY_RELATIONS = {
    "subPropertyOf": RDFS.subPropertyOf,
    "equivalentProperty": OWL.equivalentProperty,
    "inverseOf": OWL.inverseOf,
    "propertyDisjointWith": OWL.propertyDisjointWith,
}

INDIVIDUAL_RELATIONS = {
    "sameAs": OWL.sameAs,
    "differentFrom": OWL.differentFrom,
}


def _vocab_relation(
    triples: DataFrame,
    vocab: dict[str, str],
    a: str,
    relation_type: str,
    b: str,
    base: str,
    remove: bool,
) -> DataFrame:
    """Shared body of the six add/remove_*_relation ops: unknown
    relation types are silent no-ops (the reference's ``if relation:``
    guard, e.g. ``:1747``, ``:1755``)."""
    pred = vocab.get(relation_type)
    if pred is None:
        return triples
    ua, ub = uri(a, base), uri(b, base)
    if remove:
        return remove_pattern(triples, subj=ua, pred=pred, obj=ub)
    return add_triples(triples, _rows(triples.sparkSession, [t_uri(ua, pred, ub)]))


def add_class_relation(triples, class1, relation_type, class2, base):
    """Reference ``add_class_relation`` (``:1743-1749``)."""
    return _vocab_relation(triples, CLASS_RELATIONS, class1, relation_type, class2, base, False)


def remove_class_relation(triples, class1, relation_type, class2, base):
    """Reference ``remove_class_relation`` (``:1751-1757``)."""
    return _vocab_relation(triples, CLASS_RELATIONS, class1, relation_type, class2, base, True)


def add_property_relation(triples, prop1, relation_type, prop2, base):
    """Reference ``add_property_relation`` (``:1775-1781``)."""
    return _vocab_relation(triples, PROPERTY_RELATIONS, prop1, relation_type, prop2, base, False)


def remove_property_relation(triples, prop1, relation_type, prop2, base):
    """Reference ``remove_property_relation`` (``:1783-1789``)."""
    return _vocab_relation(triples, PROPERTY_RELATIONS, prop1, relation_type, prop2, base, True)


def add_individual_relation(triples, ind1, relation_type, ind2, base):
    """Reference ``add_individual_relation`` (``:1807-1813``)."""
    return _vocab_relation(triples, INDIVIDUAL_RELATIONS, ind1, relation_type, ind2, base, False)


def remove_individual_relation(triples, ind1, relation_type, ind2, base):
    """Reference ``remove_individual_relation`` (``:1815-1821``)."""
    return _vocab_relation(triples, INDIVIDUAL_RELATIONS, ind1, relation_type, ind2, base, True)


def delete_concept(triples: DataFrame, concept: str, base: str) -> DataFrame:
    """Reference ``delete_concept`` (``:1598-1616``): removes the concept's
    triples AND inverse/symmetric counterparts pointing at it."""
    c = uri(concept, base)
    return delete_resource(triples, c)


# --------------------------------------------------------------------------
# base-URI rewrite (reference ontology_manager.py:237-286)
# --------------------------------------------------------------------------


def set_base_uri(triples: DataFrame, old_base: str, new_base: str) -> DataFrame:
    """Prefix-rewrite every URI starting with old base in s and o positions
    (reference ``:268-283``).  Pure projection — the reference's only
    full-graph-scan mutation stays map-side here too."""
    def rw(c):
        return F.when(
            F.col(c).startswith(old_base),
            F.concat(F.lit(new_base), F.substring(F.col(c), len(old_base) + 1, 1 << 20)),
        ).otherwise(F.col(c))

    return (
        triples.withColumn("subj", rw("subj"))
        .withColumn(
            "obj",
            F.when(F.col("obj_kind") == "uri", rw("obj")).otherwise(F.col("obj")),
        )
        .withColumn("pred", rw("pred"))
        .dropDuplicates(TRIPLE_COLS)
    )


# --------------------------------------------------------------------------
# bulk operators (reference ontology_manager.py:532-744)
# --------------------------------------------------------------------------


def bulk_add_classes(
    triples: DataFrame, staged: DataFrame, base: str
) -> DataFrame:
    """``staged(name, label, comment)`` -> new class triples, skipping
    names that already exist (reference pre-scan ``:576``) via a single
    anti-join — the batch-shaped entry the reference loops row-by-row."""
    staged = staged.select(
        F.when(
            F.col("name").startswith("http://") | F.col("name").startswith("https://"),
            F.col("name"),
        )
        .otherwise(F.concat(F.lit(base), F.col("name")))
        .alias("subj"),
        "label",
        "comment",
    ).dropDuplicates(["subj"])
    existing = type_slice(triples, OWL.Class)
    fresh = staged.join(existing, "subj", "left_anti")
    new_rows = (
        fresh.select(
            "subj",
            F.lit(RDF.type).alias("pred"),
            F.lit(OWL.Class).alias("obj"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        )
        .unionByName(
            fresh.filter(F.col("label").isNotNull()).select(
                "subj",
                F.lit(RDFS.label).alias("pred"),
                F.col("label").alias("obj"),
                F.lit("literal").alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_dt"),
            )
        )
        .unionByName(
            fresh.filter(F.col("comment").isNotNull()).select(
                "subj",
                F.lit(RDFS.comment).alias("pred"),
                F.col("comment").alias("obj"),
                F.lit("literal").alias("obj_kind"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_dt"),
            )
        )
    )
    return add_triples(triples, new_rows)


def bulk_delete_resources(triples: DataFrame, names: DataFrame, base: str) -> DataFrame:
    """Single anti-join delete of many resources (reference loops
    ``:670-701``).  ``names(name)`` local names or URIs."""
    uris = names.select(
        F.when(
            F.col("name").startswith("http://") | F.col("name").startswith("https://"),
            F.col("name"),
        )
        .otherwise(F.concat(F.lit(base), F.col("name")))
        .alias("u")
    ).distinct()
    out = triples.join(uris, triples["subj"] == uris["u"], "left_anti")
    out = out.join(
        uris,
        (out["obj"] == uris["u"]) & (out["obj_kind"] != "literal"),
        "left_anti",
    )
    return out.join(uris, out["pred"] == uris["u"], "left_anti")


# --------------------------------------------------------------------------
# annotations (reference ontology_manager.py:1196-1242, 1330-1367)
# --------------------------------------------------------------------------


def resolve_annotation_predicate(predicate: str, base: str) -> str:
    """Alias -> URI via the 15-name well-known map; full URIs pass
    through; unknown names resolve against the base namespace
    (reference ``ontology_manager.py:1211-1232``)."""
    from ..model import ANNOTATION_PREDICATES

    if predicate.startswith("http://") or predicate.startswith("https://"):
        return predicate
    return ANNOTATION_PREDICATES.get(predicate, uri(predicate, base))


def add_annotation(
    triples: DataFrame,
    subject: str,
    predicate: str,
    value: str,
    base: str,
    lang: str | None = None,
) -> DataFrame:
    """Reference ``add_annotation`` (``:1196-1240``): graph.add of a
    (possibly language-tagged) literal under the alias-resolved
    predicate."""
    spark = triples.sparkSession
    s = uri(subject, base)
    p = resolve_annotation_predicate(predicate, base)
    return add_triples(triples, _rows(spark, [t_lit(s, p, value, lang)]))


def delete_annotation(
    triples: DataFrame,
    subject: str,
    predicate: str,
    base: str,
    value: str | None = None,
    lang: str | None = None,
    datatype: str | None = None,
) -> DataFrame:
    """Reference ``delete_annotation`` (``:1330-1367``).

    * no value            -> drop every (s, p, *) literal
    * value + lang        -> drop the exact language-tagged literal
    * value + datatype    -> drop the exact datatype-qualified literal
      (datatype resolved through the XSD short-name map)
    * value only          -> drop any literal whose string value matches,
      regardless of tag (the reference's string-match fallback)
    """
    s = uri(subject, base)
    p = resolve_annotation_predicate(predicate, base)
    cond = (F.col("subj") == s) & (F.col("pred") == p) & (
        F.col("obj_kind") == "literal"
    )
    if value is None:
        return triples.filter(~cond)
    cond = cond & (F.col("obj") == value)
    if lang:
        cond = cond & (F.col("obj_lang") == lang)
    elif datatype:
        dt = XSD_DATATYPES.get(datatype, datatype)
        cond = cond & (F.col("obj_dt") == dt)
    # else: string-match fallback — any lang/datatype
    return triples.filter(~cond)


# --------------------------------------------------------------------------
# update_* upserts (reference ontology_manager.py:321-340, 808-835,
# 1004-1023)
# --------------------------------------------------------------------------


def _upsert_literal(
    triples: DataFrame, subject: str, pred: str, value: str | None
) -> DataFrame:
    """Remove-then-maybe-add: ``None`` leaves untouched is handled by the
    callers; here empty-string/None clears, non-empty sets (the
    reference's ``graph.set`` / clear split)."""
    out = remove_pattern(triples, subj=subject, pred=pred)
    if value:
        out = add_triples(
            out, _rows(triples.sparkSession, [t_lit(subject, pred, value)])
        )
    return out


def update_class(
    triples: DataFrame,
    name: str,
    base: str,
    new_label: str | None = None,
    new_comment: str | None = None,
    new_parent: str | None = None,
    remove_parent: str | None = None,
) -> DataFrame:
    """Reference ``update_class`` (``:321-340``): label/comment upsert
    (None = unchanged, '' = clear), parent add + targeted parent
    remove."""
    c = uri(name, base)
    out = triples
    if new_label is not None:
        out = _upsert_literal(out, c, RDFS.label, new_label)
    if new_comment is not None:
        out = _upsert_literal(out, c, RDFS.comment, new_comment)
    if remove_parent:
        out = remove_pattern(
            out, subj=c, pred=RDFS.subClassOf, obj=uri(remove_parent, base)
        )
    if new_parent:
        out = add_triples(
            out,
            _rows(
                out.sparkSession,
                [t_uri(c, RDFS.subClassOf, uri(new_parent, base))],
            ),
        )
    return out


def update_property(
    triples: DataFrame,
    name: str,
    base: str,
    new_label: str | None = None,
    new_comment: str | None = None,
    new_domain: str | None = None,
    new_range: str | None = None,
) -> DataFrame:
    """Reference ``update_property`` (``:808-835``) incl. the range
    datatype-vs-class dispatch through the XSD short-name map (``:829-834``)."""
    p = uri(name, base)
    out = triples
    if new_label is not None:
        out = _upsert_literal(out, p, RDFS.label, new_label)
    if new_comment is not None:
        out = _upsert_literal(out, p, RDFS.comment, new_comment)
    if new_domain is not None:
        out = remove_pattern(out, subj=p, pred=RDFS.domain)
        if new_domain:
            out = add_triples(
                out,
                _rows(out.sparkSession, [t_uri(p, RDFS.domain, uri(new_domain, base))]),
            )
    if new_range is not None:
        out = remove_pattern(out, subj=p, pred=RDFS.range)
        if new_range:
            rng = XSD_DATATYPES.get(new_range, None) or uri(new_range, base)
            out = add_triples(
                out, _rows(out.sparkSession, [t_uri(p, RDFS.range, rng)])
            )
    return out


def update_individual(
    triples: DataFrame,
    name: str,
    base: str,
    new_label: str | None = None,
    new_comment: str | None = None,
    add_class: str | None = None,
    remove_class: str | None = None,
) -> DataFrame:
    """Reference ``update_individual`` (``:1004-1023``): label/comment
    upsert plus targeted class-membership add/remove (never touches the
    owl:NamedIndividual tag)."""
    i = uri(name, base)
    out = triples
    if new_label is not None:
        out = _upsert_literal(out, i, RDFS.label, new_label)
    if new_comment is not None:
        out = _upsert_literal(out, i, RDFS.comment, new_comment)
    if remove_class:
        out = remove_pattern(out, subj=i, pred=RDF.type, obj=uri(remove_class, base))
    if add_class:
        out = add_triples(
            out, _rows(out.sparkSession, [t_uri(i, RDF.type, uri(add_class, base))])
        )
    return out


def rename_checked(
    triples: DataFrame,
    old: str,
    new: str,
    guard_types: list[str],
    rename_predicate: bool = False,
) -> tuple[DataFrame, bool]:
    """Rename with the reference's refuse-if-target-exists guard
    (``rename_class`` ``:350-351``, ``rename_property`` ``:846-848``,
    ``rename_individual`` ``:1031-1033``): if (new, rdf:type, T) exists
    for any guard type T the graph is returned unchanged with
    ``False``.  The membership probe is a tiny type-slice lookup — the
    same O(1) index hit the reference does, expressed as a limit(1)
    scan."""
    if old == new:
        return triples, True
    exists = not (
        triples.filter(
            (F.col("subj") == new)
            & (F.col("pred") == RDF.type)
            & (F.col("obj").isin(guard_types))
        )
        .limit(1)
        .isEmpty()
    )
    if exists:
        return triples, False
    return rename_resource(triples, old, new, rename_predicate), True


# --------------------------------------------------------------------------
# ontology metadata / imports (reference ontology_manager.py:77-110)
# --------------------------------------------------------------------------

#: tri-state sentinel: distinguish "leave unchanged" from "clear"
#: (reference ``_UNSET``, ``ontology_manager.py:24``).
UNSET = object()


def set_ontology_metadata(
    triples: DataFrame,
    ontology_uri: str,
    label=UNSET,
    comment=UNSET,
    creator=UNSET,
    version_iri=UNSET,
) -> DataFrame:
    """Reference ``set_ontology_metadata`` (``:77-102``): per-field
    tri-state — omitted = unchanged, falsy = clear, string = set
    (graph.set semantics: replace all previous values)."""
    from ..model import DCT_NS

    out = triples
    for value, pred in (
        (label, RDFS.label),
        (comment, RDFS.comment),
        (creator, DCT_NS + "creator"),
    ):
        if value is UNSET:
            continue
        out = remove_pattern(out, subj=ontology_uri, pred=pred)
        if value:
            out = add_triples(
                out, _rows(out.sparkSession, [t_lit(ontology_uri, pred, value)])
            )
    if version_iri is not UNSET:
        out = remove_pattern(out, subj=ontology_uri, pred=OWL.versionIRI)
        if version_iri:
            out = add_triples(
                out,
                _rows(out.sparkSession, [t_uri(ontology_uri, OWL.versionIRI, version_iri)]),
            )
    return out


def add_import(triples: DataFrame, ontology_uri: str, import_uri: str) -> DataFrame:
    """Reference ``add_import`` (``:104-106``)."""
    return add_triples(
        triples, _rows(triples.sparkSession, [t_uri(ontology_uri, OWL.imports, import_uri)])
    )


def remove_import(triples: DataFrame, ontology_uri: str, import_uri: str) -> DataFrame:
    """Reference ``remove_import`` (``:108-110``)."""
    return remove_pattern(triples, subj=ontology_uri, pred=OWL.imports, obj=import_uri)


# --------------------------------------------------------------------------
# restrictions (reference ontology_manager.py:1101-1136, 1180-1195)
# --------------------------------------------------------------------------


def _det_bnode(*parts: str) -> str:
    """Deterministic blank-node id from content — replaces rdflib's
    random ``BNode()`` so both the Spark build and the DuckDB oracle see
    identical graphs (bnode identity is only ever *local*, so a
    content hash is a valid relabeling)."""
    import hashlib

    return "_:b" + hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:12]


def add_restriction(
    triples: DataFrame,
    class_name: str,
    property_name: str,
    restriction_type: str,
    value,
    base: str,
    on_class: str | None = None,
) -> DataFrame:
    """Reference ``add_restriction`` (``:1101-1136``): bnode typed
    owl:Restriction + owl:onProperty + the type-specific value triple
    (+ owl:onClass for qualified cardinalities), linked from the class
    via rdfs:subClassOf."""
    from ..model import RESTRICTION_TYPES

    spark = triples.sparkSession
    c = uri(class_name, base)
    p = uri(property_name, base)
    pred = dict(RESTRICTION_TYPES).get(restriction_type)
    if pred is None:
        raise ValueError(f"Unknown restriction type: {restriction_type}")
    r = _det_bnode("restriction", c, p, restriction_type, str(value))
    rows = [
        t_bnode_subj(r, RDF.type, OWL.Restriction, "uri"),
        t_bnode_subj(r, OWL.onProperty, p, "uri"),
    ]
    if restriction_type in ("someValuesFrom", "allValuesFrom"):
        rows.append(t_bnode_subj(r, pred, uri(value, base), "uri"))
    elif restriction_type == "hasValue":
        if isinstance(value, str) and not value.startswith("http"):
            rows.append((r, pred, str(value), "literal", None, None))
        else:
            rows.append(t_bnode_subj(r, pred, uri(value, base), "uri"))
    else:  # cardinalities, qualified or plain
        rows.append(
            (r, pred, str(int(value)), "literal", None, XSD.nonNegativeInteger)
        )
        if restriction_type in (
            "minQualifiedCardinality",
            "maxQualifiedCardinality",
            "qualifiedCardinality",
        ) and on_class:
            rows.append(t_bnode_subj(r, OWL.onClass, uri(on_class, base), "uri"))
    rows.append((c, RDFS.subClassOf, r, "bnode", None, None))
    return add_triples(triples, _rows(spark, rows))


def t_bnode_subj(s: str, p: str, o: str, okind: str) -> tuple:
    return (s, p, o, okind, None, None)


def delete_restriction(
    triples: DataFrame,
    class_name: str,
    property_name: str,
    restriction_type: str,
    base: str,
) -> DataFrame:
    """Reference ``delete_restriction`` (``:1180-1195``): find the
    restriction bnode(s) on (class, property) carrying the given type
    predicate, unlink from the class and drop all their triples.

    The reference deletes the *first* match in rdflib's arbitrary
    iteration order; this deletes every match — deterministic, and
    identical whenever the match is unique (the reference's own tests
    only ever create one).  One semi-join pass, no collect.
    """
    from ..model import RESTRICTION_TYPES

    c = uri(class_name, base)
    p = uri(property_name, base)
    pred = dict(RESTRICTION_TYPES).get(restriction_type)
    if pred is None:
        return triples
    restr = type_slice(triples, OWL.Restriction).select("subj")
    on_prop = triples.filter(
        (F.col("pred") == OWL.onProperty) & (F.col("obj") == p)
    ).select("subj")
    has_type = triples.filter(F.col("pred") == pred).select("subj")
    linked = triples.filter(
        (F.col("subj") == c)
        & (F.col("pred") == RDFS.subClassOf)
        & (F.col("obj_kind") == "bnode")
    ).select(F.col("obj").alias("subj"))
    doomed = (
        restr.join(on_prop, "subj", "left_semi")
        .join(has_type, "subj", "left_semi")
        .join(linked, "subj", "left_semi")
        .distinct()
    )
    out = triples.join(doomed, "subj", "left_anti")
    d2 = doomed.withColumnRenamed("subj", "obj")
    return out.join(
        d2.withColumn("obj_kind", F.lit("bnode")), ["obj", "obj_kind"], "left_anti"
    )


# --------------------------------------------------------------------------
# SKOS update/delete (reference ontology_manager.py:1418-1448, 1541-1573)
# --------------------------------------------------------------------------


def update_concept_scheme(
    triples: DataFrame, name: str, base: str, new_label=UNSET, new_comment=UNSET
) -> DataFrame:
    """Reference ``update_concept_scheme`` (``:1418-1436``)."""
    s = uri(name, base)
    out = triples
    if new_label is not UNSET:
        out = _upsert_literal(out, s, RDFS.label, new_label)
    if new_comment is not UNSET:
        out = _upsert_literal(out, s, RDFS.comment, new_comment)
    return out


def delete_concept_scheme(triples: DataFrame, name: str, base: str) -> DataFrame:
    """Reference ``delete_concept_scheme`` (``:1438-1448``): drop the
    scheme's own triples, all inScheme references to it, and any other
    object references."""
    s = uri(name, base)
    return delete_resource(triples, s)


def update_concept(
    triples: DataFrame,
    name: str,
    base: str,
    new_pref_label=UNSET,
    new_definition=UNSET,
    new_broader=UNSET,
    add_scheme: str | None = None,
    remove_scheme: str | None = None,
) -> DataFrame:
    """Reference ``update_concept`` (``:1541-1573``) — the broader swap
    maintains the inverse: every old (c, broader, b) is dropped together
    with its (b, narrower, c) mirror, then the new pair is added."""
    c = uri(name, base)
    out = triples
    if new_pref_label is not UNSET:
        out = _upsert_literal_pred(out, c, SKOS.prefLabel, new_pref_label)
    if new_definition is not UNSET:
        out = _upsert_literal_pred(out, c, SKOS.definition, new_definition)
    if new_broader is not UNSET:
        # drop old broader links and their narrower mirrors (join-free:
        # the mirror set is exactly {(b, narrower, c)} for old broaders)
        old_broader = out.filter(
            (F.col("subj") == c) & (F.col("pred") == SKOS.broader)
        ).select(F.col("obj").alias("b"))
        out = out.filter(
            ~((F.col("subj") == c) & (F.col("pred") == SKOS.broader))
        )
        out = out.join(
            old_broader,
            (out["subj"] == old_broader["b"])
            & (out["pred"] == SKOS.narrower)
            & (out["obj"] == c),
            "left_anti",
        )
        if new_broader:
            b = uri(new_broader, base)
            out = add_triples(
                out,
                _rows(
                    out.sparkSession,
                    [t_uri(c, SKOS.broader, b), t_uri(b, SKOS.narrower, c)],
                ),
            )
    if add_scheme:
        out = add_triples(
            out,
            _rows(out.sparkSession, [t_uri(c, SKOS.inScheme, uri(add_scheme, base))]),
        )
    if remove_scheme:
        out = remove_pattern(
            out, subj=c, pred=SKOS.inScheme, obj=uri(remove_scheme, base)
        )
    return out


def _upsert_literal_pred(
    triples: DataFrame, subject: str, pred: str, value: str | None
) -> DataFrame:
    return _upsert_literal(triples, subject, pred, value)


# --------------------------------------------------------------------------
# advanced-axiom builders (reference ontology_manager.py:1840-1981) —
# RDF list construction with deterministic bnode labels
# --------------------------------------------------------------------------


def _rdf_list_rows(members: list[tuple[str, str]], seed: str) -> tuple[str, list[tuple]]:
    """Build rdf:first/rdf:rest cons cells for ``members`` (each a
    (value, kind) pair).  Returns (head_node, rows).  Cell ids are
    content-derived so rebuilds are stable."""
    rows: list[tuple] = []
    nodes = [
        _det_bnode("list", seed, str(i), v) for i, (v, _) in enumerate(members)
    ]
    for i, ((v, kind), node) in enumerate(zip(members, nodes)):
        rows.append((node, RDF.first, v, kind, None, None))
        if i + 1 < len(nodes):
            rows.append((node, RDF.rest, nodes[i + 1], "bnode", None, None))
        else:
            rows.append((node, RDF.rest, RDF.nil, "uri", None, None))
    return nodes[0], rows


def add_property_chain(
    triples: DataFrame, property_name: str, chain_properties: list[str], base: str
) -> DataFrame:
    """Reference ``add_property_chain`` (``:1840-1848``)."""
    p = uri(property_name, base)
    members = [(uri(c, base), "uri") for c in chain_properties]
    head, rows = _rdf_list_rows(members, "chain:" + p)
    rows.append((p, OWL.propertyChainAxiom, head, "bnode", None, None))
    return add_triples(triples, _rows(triples.sparkSession, rows))


def add_class_expression(
    triples: DataFrame,
    class_name: str,
    expression_type: str,
    base: str,
    classes: list[str] | None = None,
    individuals: list[str] | None = None,
) -> DataFrame:
    """Reference ``add_class_expression`` (``:1863-1887``):
    complementOf takes a single class; oneOf a list of individuals;
    unionOf/intersectionOf lists of classes."""
    c = uri(class_name, base)
    if expression_type == "complementOf" and classes:
        return add_triples(
            triples,
            _rows(triples.sparkSession, [t_uri(c, OWL.complementOf, uri(classes[0], base))]),
        )
    if expression_type == "oneOf" and individuals:
        members = [(uri(i, base), "uri") for i in individuals]
        head, rows = _rdf_list_rows(members, "oneOf:" + c)
        rows.append((c, OWL.oneOf, head, "bnode", None, None))
        return add_triples(triples, _rows(triples.sparkSession, rows))
    if expression_type in ("unionOf", "intersectionOf") and classes:
        members = [(uri(x, base), "uri") for x in classes]
        head, rows = _rdf_list_rows(members, expression_type + ":" + c)
        pred = OWL.unionOf if expression_type == "unionOf" else OWL.intersectionOf
        rows.append((c, pred, head, "bnode", None, None))
        return add_triples(triples, _rows(triples.sparkSession, rows))
    return triples


def add_all_different(triples: DataFrame, individuals: list[str], base: str) -> DataFrame:
    """Reference ``add_all_different`` (``:1941-1949``)."""
    members = [(uri(i, base), "uri") for i in individuals]
    seed = "allDiff:" + "|".join(m for m, _ in members)
    head, rows = _rdf_list_rows(members, seed)
    ad = _det_bnode("allDifferent", seed)
    rows.append((ad, RDF.type, OWL.AllDifferent, "uri", None, None))
    rows.append((ad, OWL.distinctMembers, head, "bnode", None, None))
    return add_triples(triples, _rows(triples.sparkSession, rows))


def add_has_key(
    triples: DataFrame, class_name: str, properties: list[str], base: str
) -> DataFrame:
    """Reference ``add_has_key`` (``:1964-1971``)."""
    c = uri(class_name, base)
    members = [(uri(p, base), "uri") for p in properties]
    head, rows = _rdf_list_rows(members, "hasKey:" + c)
    rows.append((c, OWL.hasKey, head, "bnode", None, None))
    return add_triples(triples, _rows(triples.sparkSession, rows))


def add_disjoint_union(
    triples: DataFrame, class_name: str, disjoint_classes: list[str], base: str
) -> DataFrame:
    """Reference ``add_disjoint_union`` (``:1989-1996``)."""
    c = uri(class_name, base)
    members = [(uri(x, base), "uri") for x in disjoint_classes]
    head, rows = _rdf_list_rows(members, "disjointUnion:" + c)
    rows.append((c, OWL.disjointUnionOf, head, "bnode", None, None))
    return add_triples(triples, _rows(triples.sparkSession, rows))


# --------------------------------------------------------------------------
# bulk text parse + remaining bulk ops (reference ontology_manager.py:
# 532-567, 599-668, 703-744)
# --------------------------------------------------------------------------


def parse_bulk_text(text: str, columns: list[str] | None = None) -> list[dict]:
    """Reference ``parse_bulk_text`` (``:532-567``): simple one-name-per-
    line mode, or CSV mode with an explicit column list / auto-detected
    header (first line contains a comma and a ``name`` column).  Pure
    driver-side UI parsing of a textarea — rows then flow through the
    DataFrame bulk ops below."""
    lines = [ln.strip() for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        return []
    if columns is None and "," in lines[0]:
        header = [c.strip().lower() for c in lines[0].split(",")]
        if "name" in header:
            columns = header
            lines = lines[1:]
    if columns:
        result = []
        for line in lines:
            parts = [p.strip() for p in line.split(",")]
            entry = {
                col: (parts[i] if i < len(parts) else "")
                for i, col in enumerate(columns)
            }
            if entry.get("name"):
                result.append(entry)
        return result
    return [{"name": ln} for ln in lines]


def _staged_uris(staged: DataFrame, base: str, col: str = "name"):
    return (
        F.when(
            F.col(col).startswith("http://") | F.col(col).startswith("https://"),
            F.col(col),
        )
        .otherwise(F.concat(F.lit(base), F.col(col)))
    )


def _attr_rows(fresh: DataFrame, col: str, pred: str, kind: str = "literal"):
    return fresh.filter(
        F.col(col).isNotNull() & (F.col(col) != "")
    ).select(
        "subj",
        F.lit(pred).alias("pred"),
        F.col(col).alias("obj"),
        F.lit(kind).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_dt"),
    )


def _type_rows(fresh: DataFrame, type_uri: str):
    return fresh.select(
        "subj",
        F.lit(RDF.type).alias("pred"),
        F.lit(type_uri).alias("obj"),
        F.lit("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_dt"),
    )


def bulk_add_properties(
    triples: DataFrame,
    staged: DataFrame,
    base: str,
    property_type: str = "object",
) -> DataFrame:
    """``staged(name, domain, range, label)`` -> property triples,
    skipping names that already exist as the same property type
    (reference ``bulk_add_properties`` ``:599-634`` — its skip set is the
    current get_*_properties listing).  One anti-join per batch; ranges
    of data properties resolve through the XSD map with the reference's
    string default (``:627``)."""
    type_uri = OWL.ObjectProperty if property_type == "object" else OWL.DatatypeProperty
    staged = staged.select(
        _staged_uris(staged, base).alias("subj"),
        F.when(
            F.col("domain").isNotNull() & (F.col("domain") != ""),
            _staged_uris(staged, base, "domain"),
        ).alias("domain"),
        "range",
        "label",
    ).dropDuplicates(["subj"])
    existing = type_slice(triples, type_uri)
    fresh = staged.join(existing, "subj", "left_anti")
    if property_type == "object":
        range_col = F.when(
            F.col("range").isNotNull() & (F.col("range") != ""),
            F.when(
                F.col("range").startswith("http://")
                | F.col("range").startswith("https://"),
                F.col("range"),
            ).otherwise(F.concat(F.lit(base), F.col("range"))),
        )
    else:
        xsd_map = F.create_map(
            *[F.lit(x) for kv in XSD_DATATYPES.items() for x in kv]
        )
        range_col = F.coalesce(
            xsd_map[F.coalesce(F.col("range"), F.lit("string"))],
            F.lit(XSD.string),
        )
    fresh = fresh.withColumn("rng", range_col)
    new_rows = _type_rows(fresh, type_uri)
    new_rows = new_rows.unionByName(_attr_rows(fresh, "domain", RDFS.domain, "uri"))
    new_rows = new_rows.unionByName(_attr_rows(fresh, "rng", RDFS.range, "uri"))
    new_rows = new_rows.unionByName(_attr_rows(fresh, "label", RDFS.label))
    return add_triples(triples, new_rows)


def bulk_add_individuals(
    triples: DataFrame, staged: DataFrame, base: str
) -> DataFrame:
    """``staged(name, class, label)`` -> individual triples; entries
    without a class are dropped (the reference records them as errors,
    ``:651-653``); existing names skipped (``:654-656``)."""
    staged = staged.select(
        _staged_uris(staged, base).alias("subj"),
        F.when(
            F.col("class").isNotNull() & (F.col("class") != ""),
            _staged_uris(staged, base, "class"),
        ).alias("cls"),
        "label",
    ).filter(F.col("cls").isNotNull()).dropDuplicates(["subj"])
    existing = type_slice(triples, OWL.NamedIndividual)
    fresh = staged.join(existing, "subj", "left_anti")
    new_rows = _type_rows(fresh, OWL.NamedIndividual)
    new_rows = new_rows.unionByName(_attr_rows(fresh, "cls", RDF.type, "uri"))
    new_rows = new_rows.unionByName(_attr_rows(fresh, "label", RDFS.label))
    return add_triples(triples, new_rows)


def bulk_update_annotations(
    triples: DataFrame, updates: DataFrame, base: str
) -> DataFrame:
    """``updates(resource, predicate, value, lang, action)`` applied in
    one pass (reference loops per row, ``:703-744``): deletes are one
    anti-join (exact lang when given, else string-match fallback —
    same per-row semantics as ``delete_annotation``), adds one union.
    Rows with missing resource/predicate, or adds without value, are
    ignored (the reference reports them as errors and applies the
    rest)."""
    from ..model import ANNOTATION_PREDICATES

    alias_map = F.create_map(
        *[F.lit(x) for kv in ANNOTATION_PREDICATES.items() for x in kv]
    )
    norm = updates.select(
        _staged_uris(updates, base, "resource").alias("subj"),
        F.coalesce(
            F.when(
                F.col("predicate").startswith("http://")
                | F.col("predicate").startswith("https://"),
                F.col("predicate"),
            ),
            alias_map[F.col("predicate")],
            F.concat(F.lit(base), F.col("predicate")),
        ).alias("pred"),
        F.col("value").alias("obj"),
        F.when(F.col("lang") != "", F.col("lang")).alias("obj_lang"),
        F.coalesce(F.lower(F.col("action")), F.lit("add")).alias("action"),
    ).filter(
        F.col("subj").isNotNull()
        & (F.col("subj") != "")
        & F.col("pred").isNotNull()
    )
    dels = norm.filter(F.col("action") == "delete")
    adds = norm.filter(
        (F.col("action") == "add") & F.col("obj").isNotNull() & (F.col("obj") != "")
    )
    t = triples.alias("t")
    d = dels.alias("d")
    # delete join: subject+predicate always; value when given; lang when
    # given (string-match fallback when absent) — literals only
    cond = (
        (F.col("t.subj") == F.col("d.subj"))
        & (F.col("t.pred") == F.col("d.pred"))
        & (F.col("t.obj_kind") == "literal")
        & (
            F.col("d.obj").isNull()
            | (F.col("d.obj") == "")
            | (F.col("t.obj") == F.col("d.obj"))
        )
        & (F.col("d.obj_lang").isNull() | (F.col("t.obj_lang") == F.col("d.obj_lang")))
    )
    out = t.join(d, cond, "left_anti")
    new_rows = adds.select(
        "subj",
        "pred",
        "obj",
        F.lit("literal").alias("obj_kind"),
        "obj_lang",
        F.lit(None).cast("string").alias("obj_dt"),
    )
    return add_triples(out, new_rows)


def axioms_from_mining(
    functional: DataFrame | None = None,
    inverse: DataFrame | None = None,
) -> DataFrame:
    """Materialize profiling's mined axiom suggestions as triples —
    closing the induce→assert loop: ``suggest_functional`` rows become
    ``p rdf:type owl:FunctionalProperty``, ``suggest_inverse`` rows
    become ``p owl:inverseOf q`` ('inverse') or ``p rdf:type
    owl:SymmetricProperty`` ('symmetric').  Only rows with
    ``suggested`` true (functional) participate; the output is a plain
    triples DataFrame ready for ``add_triples`` /
    ``reasoning.apply_reasoning``.

    Pure vocabulary-sized projections — no shuffle."""
    from ..model import OWL, RDF

    def t(subj_col, pred, obj_col):
        return F.struct(
            subj_col.alias("subj"),
            F.lit(pred).alias("pred"),
            obj_col.alias("obj"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        )

    parts = []
    if functional is not None:
        parts.append(
            functional.filter(F.col("suggested"))
            .select(t(F.col("pred"), RDF.type, F.lit(OWL.FunctionalProperty)).alias("r"))
        )
    if inverse is not None:
        parts.append(
            inverse.filter(F.col("kind") == "inverse").select(
                t(F.col("pred_a"), OWL.inverseOf, F.col("pred_b")).alias("r")
            )
        )
        parts.append(
            inverse.filter(F.col("kind") == "symmetric").select(
                t(F.col("pred_a"), RDF.type, F.lit(OWL.SymmetricProperty)).alias("r")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.select("r.*")
        .dropDuplicates(["subj", "pred", "obj"])
        .orderBy("subj", "pred", "obj")
    )


# ---------------------------------------------------------------------------
# XSD canonical lexical forms — literal normalization
# ---------------------------------------------------------------------------


def _canon_int_expr(lex):
    """Canonical xsd:integer lexical form (XSD 1.1 canonical mapping,
    public spec): no '+', no leading zeros, '-0' -> '0'."""
    neg = lex.startswith("-")
    digits = F.regexp_replace(F.regexp_replace(lex, "^[+-]", ""), "^0+", "")
    digits = F.when(digits == "", "0").otherwise(digits)
    return F.when(neg & (digits != "0"), F.concat(F.lit("-"), digits)).otherwise(
        digits
    )


def _canon_dec_expr(lex):
    """Canonical xsd:decimal: required '.', no leading/trailing zeros
    beyond one guard digit each side, no '+', '-0.0' -> '0.0'."""
    neg = lex.startswith("-")
    body = F.regexp_replace(lex, "^[+-]", "")
    ip = F.when(body.contains("."), F.substring_index(body, ".", 1)).otherwise(body)
    fp = F.when(body.contains("."), F.substring_index(body, ".", -1)).otherwise(
        F.lit("")
    )
    ip = F.regexp_replace(ip, "^0+", "")
    ip = F.when(ip == "", "0").otherwise(ip)
    fp = F.regexp_replace(fp, "0+$", "")
    fp = F.when(fp == "", "0").otherwise(fp)
    canon = F.concat(ip, F.lit("."), fp)
    zero = (ip == "0") & (fp == "0")
    return F.when(neg & ~zero, F.concat(F.lit("-"), canon)).otherwise(canon)


def canonicalize_literals(triples: DataFrame) -> DataFrame:
    """Rewrite xsd:integer / xsd:decimal / xsd:boolean literals to
    their XSD canonical lexical forms ("+007" -> "7", "1.50" -> "1.5",
    "1" -> "true") and collapse duplicates the rewrite creates.

    Web-extracted graphs carry rampant lexical variance for the SAME
    value; rdflib (the reference substrate) compares literals lexically
    too, so "01" and "1" silently count as two facts in merges, diffs
    and conflict detection.  Canonicalizing at ingest makes set algebra
    value-correct — the literal-level analog of what ``graph.value``
    determinism does for term picks.  xsd:double is intentionally NOT
    touched (its canonical form needs float re-rendering, an honest
    engine-portability hazard; validation flags it instead).

    Pure per-row projection + one distinct — scales as a scan."""
    is_lit = F.col("obj_kind") == "literal"
    dt = F.col("obj_dt")
    lex = F.trim(F.col("obj"))
    int_ok = lex.rlike("^[+-]?[0-9]+$")
    dec_ok = lex.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$")
    new_obj = (
        F.when(
            is_lit & (dt == XSD.integer) & int_ok, _canon_int_expr(lex)
        )
        .when(is_lit & (dt == XSD.decimal) & dec_ok, _canon_dec_expr(lex))
        .when(
            is_lit & (dt == XSD.boolean),
            F.when(lex.isin("1", "true"), "true")
            .when(lex.isin("0", "false"), "false")
            .otherwise(F.col("obj")),
        )
        .otherwise(F.col("obj"))
    )
    return (
        triples.withColumn("obj", new_obj)
        .dropDuplicates(["subj", "pred", "obj", "obj_kind", "obj_lang", "obj_dt"])
    )


def canonicalize_literals_sql(triples_cte: str = "triples") -> str:
    """DuckDB twin (identical regex gates and string surgery)."""
    lex = "trim(obj)"
    body = f"regexp_replace({lex}, '^[+-]', '')"
    neg = f"({lex} LIKE '-%')"
    i_digits = f"(CASE WHEN regexp_replace({body}, '^0+', '') = '' THEN '0' ELSE regexp_replace({body}, '^0+', '') END)"
    canon_int = (
        f"(CASE WHEN {neg} AND {i_digits} <> '0' THEN '-' || {i_digits} "
        f"ELSE {i_digits} END)"
    )
    ip_raw = f"(CASE WHEN {body} LIKE '%.%' THEN string_split({body}, '.')[1] ELSE {body} END)"
    fp_raw = f"(CASE WHEN {body} LIKE '%.%' THEN string_split({body}, '.')[2] ELSE '' END)"
    ip = f"(CASE WHEN regexp_replace({ip_raw}, '^0+', '') = '' THEN '0' ELSE regexp_replace({ip_raw}, '^0+', '') END)"
    fp = f"(CASE WHEN regexp_replace({fp_raw}, '0+$', '') = '' THEN '0' ELSE regexp_replace({fp_raw}, '0+$', '') END)"
    canon_dec = (
        f"(CASE WHEN {neg} AND NOT ({ip} = '0' AND {fp} = '0') "
        f"THEN '-' || {ip} || '.' || {fp} ELSE {ip} || '.' || {fp} END)"
    )
    return f"""
SELECT DISTINCT subj, pred,
  CASE
    WHEN obj_kind = 'literal' AND obj_dt = '{XSD.integer}'
         AND regexp_matches({lex}, '^[+-]?[0-9]+$')
      THEN {canon_int}
    WHEN obj_kind = 'literal' AND obj_dt = '{XSD.decimal}'
         AND regexp_matches({lex}, '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$')
      THEN {canon_dec}
    WHEN obj_kind = 'literal' AND obj_dt = '{XSD.boolean}'
      THEN CASE WHEN {lex} IN ('1', 'true') THEN 'true'
                WHEN {lex} IN ('0', 'false') THEN 'false'
                ELSE obj END
    ELSE obj
  END AS obj,
  obj_kind, obj_lang, obj_dt
FROM {triples_cte}"""


#: messy-literal fixture for the canonicalization oracle: every branch
#: (int sign/zeros, decimal guards, boolean aliases, double untouched,
#: plain strings untouched, a duplicate created BY canonicalization).
MESSY_LITERALS: list[tuple] = [
    ("http://t/e1", "http://t/age", "+007", "literal", None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("http://t/e1", "http://t/age", "7", "literal", None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("http://t/e2", "http://t/age", "-0", "literal", None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("http://t/e3", "http://t/price", "1.50", "literal", None,
     "http://www.w3.org/2001/XMLSchema#decimal"),
    ("http://t/e4", "http://t/price", "00.10", "literal", None,
     "http://www.w3.org/2001/XMLSchema#decimal"),
    ("http://t/e5", "http://t/price", "-0.0", "literal", None,
     "http://www.w3.org/2001/XMLSchema#decimal"),
    ("http://t/e6", "http://t/price", ".5", "literal", None,
     "http://www.w3.org/2001/XMLSchema#decimal"),
    ("http://t/e7", "http://t/active", "1", "literal", None,
     "http://www.w3.org/2001/XMLSchema#boolean"),
    ("http://t/e8", "http://t/active", "false", "literal", None,
     "http://www.w3.org/2001/XMLSchema#boolean"),
    ("http://t/e9", "http://t/speed", "1.50", "literal", None,
     "http://www.w3.org/2001/XMLSchema#double"),
    ("http://t/e10", "http://t/name", "007", "literal", None, None),
    ("http://t/e11", "http://t/knows", "http://t/e1", "uri", None, None),
]


def messy_literals_df(spark: SparkSession) -> DataFrame:
    from ..model import triples_df

    return triples_df(spark, MESSY_LITERALS)


def messy_literals_cte(alias: str = "triples") -> str:
    vals = ",\n    ".join(
        "("
        + ", ".join(
            "CAST(NULL AS VARCHAR)" if v is None else f"'{v}'" for v in r
        )
        + ")"
        for r in MESSY_LITERALS
    )
    return (
        f"{alias}(subj, pred, obj, obj_kind, obj_lang, obj_dt) AS "
        f"(SELECT * FROM (VALUES\n    {vals}))"
    )
