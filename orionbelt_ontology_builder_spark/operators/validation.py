"""Validation: OWL + SKOS rule queries (reference ``validate``
``ontology_manager.py:2634-2851``, ``validate_skos`` ``:1634-1717``).

Every rule emits ``(severity, issue_type, subject, message)`` rows and
a validator is the union of its rules — a pure batch job.  Each
presence rule (a typed resource lacking a predicate or a use) is a row
of ``_NODE_RULES`` over one per-node aggregation, :func:`_node_flags`:
one ``groupBy(node)``, so one hash exchange, whatever the rule count.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import (
    GIST_NS,
    OWL,
    RDF,
    RDFS,
    SCHEMA_NS,
    SKOS,
    local_name_col,
    type_slice,
)
from .fixpoint import detect_broader_cycles, expand_superclasses
from .views import duplicate_labels

_DOMAIN_PREDS = [RDFS.domain, SCHEMA_NS + "domainIncludes", GIST_NS + "domainIncludes"]
_RANGE_PREDS = [RDFS.range, SCHEMA_NS + "rangeIncludes", GIST_NS + "rangeIncludes"]
#: a class "used" by these as subject or object is not an orphan
#: (reference ``:2692-2758``): hierarchy, domain/range, restriction
#: fillers, class axioms; as object also any non-W3C ``rdf:type``
_USED_AS_SUBJ = [RDFS.subClassOf, OWL.equivalentClass, OWL.disjointWith]
_USED_AS_OBJ = [
    *_USED_AS_SUBJ, *_DOMAIN_PREDS, *_RANGE_PREDS,
    OWL.onClass, OWL.someValuesFrom, OWL.allValuesFrom, OWL.complementOf,
]

#: (validator, severity, issue_type, message, condition): one presence
#: rule per row, its condition a SQL predicate over a node's
#: :func:`_node_flags` row (``some_scheme`` is joined on by
#: :func:`validate_skos`: concepts are flagged not-in-scheme only when
#: some scheme exists, reference ``:1660``)
_NODE_RULES = (
    ("owl", "warning", "missing_label", "class has no label",
     "is_class AND NOT labeled AND NOT startswith(node, '_:')"),
    ("owl", "info", "missing_domain", "property has no domain",
     "is_prop AND NOT has_domain"),
    ("owl", "info", "missing_range", "property has no range",
     "is_prop AND NOT has_range"),
    ("owl", "warning", "orphan_class", "class is not connected to anything",
     "is_class AND NOT used AND NOT startswith(node, '_:')"),
    ("owl", "warning", "untyped_individual", "individual has no class",
     "is_ind AND NOT classed"),
    ("skos", "warning", "missing_prefLabel", "concept has no prefLabel",
     "is_concept AND NOT has_pref"),
    ("skos", "info", "not_in_scheme", "concept not in any scheme",
     "is_concept AND NOT in_scheme AND some_scheme"),
)


def _issue(df: DataFrame, severity: str, issue_type: str, message: str) -> DataFrame:
    return df.select(
        F.lit(severity).alias("severity"),
        F.lit(issue_type).alias("issue_type"),
        F.col("subj").alias("subject"),
        F.concat(local_name_col(F.col("subj")), F.lit(": " + message)).alias("message"),
    )


def _node_flags(triples: DataFrame) -> DataFrame:
    """(node, flag...): per node, whether any triple sets each flag.

    Each triple becomes a subject-role row carrying every flag, plus an
    object-role row with only ``used`` set when its predicate "uses"
    the object (``_USED_AS_OBJ``); one ``groupBy(node)`` with a ``max``
    per flag folds them.  Triples that set no flag are dropped before
    the exchange."""
    pred, obj = F.col("pred"), F.col("obj")
    is_type = pred == RDF.type

    def typed(*classes):
        return is_type & obj.isin(*classes)

    flags = {
        "is_class": typed(OWL.Class),
        "is_prop": typed(OWL.ObjectProperty, OWL.DatatypeProperty),
        "is_ind": typed(OWL.NamedIndividual),
        "classed": is_type & (obj != OWL.NamedIndividual),
        "labeled": pred.isin(RDFS.label, SKOS.prefLabel),
        "has_domain": pred.isin(*_DOMAIN_PREDS),
        "has_range": pred.isin(*_RANGE_PREDS),
        "used": pred.isin(*_USED_AS_SUBJ),
        "is_concept": typed(SKOS.Concept),
        "has_pref": pred == SKOS.prefLabel,
        "in_scheme": pred == SKOS.inScheme,
    }
    uses_obj = pred.isin(*_USED_AS_OBJ) | (is_type & ~obj.startswith("http://www.w3.org/"))
    as_subj = F.struct(F.col("subj").alias("node"), *[c.alias(n) for n, c in flags.items()])
    as_obj = F.when(
        uses_obj,
        F.struct(obj.alias("node"), *[F.lit(n == "used").alias(n) for n in flags]),
    )
    return (
        triples.filter(reduce(operator.or_, [*flags.values(), uses_obj]))
        .select(F.explode(F.array(as_subj, as_obj)).alias("r"))
        .filter(F.col("r").isNotNull())
        .select("r.*")
        .groupBy("node")
        .agg(*[F.max(n).alias(n) for n in flags])
    )


def _rule_hits(flags: DataFrame, validator: str) -> DataFrame:
    """The issue rows of ``validator``'s ``_NODE_RULES`` over a
    :func:`_node_flags` frame: one projection of each node to the
    rules it fires, exploded."""
    hit = F.array(*[
        F.when(
            F.expr(cond),
            F.struct(
                F.lit(severity).alias("severity"),
                F.lit(issue_type).alias("issue_type"),
                F.lit(": " + message).alias("message"),
            ),
        )
        for v, severity, issue_type, message, cond in _NODE_RULES
        if v == validator
    ])
    return (
        flags.select("node", F.explode(hit).alias("hit"))
        .filter(F.col("hit").isNotNull())
        .select(
            "hit.severity",
            "hit.issue_type",
            F.col("node").alias("subject"),
            F.concat(local_name_col(F.col("node")), "hit.message").alias("message"),
        )
    )


def duplicate_label_issues(triples: DataFrame) -> DataFrame:
    """Labels shared by >1 resource (reference ``:2834-2849``): one issue
    row per resource of :func:`views.duplicate_labels`."""
    return duplicate_labels(triples).select(
        F.lit("warning").alias("severity"),
        F.lit("duplicate_label").alias("issue_type"),
        F.explode("resources").alias("subject"),
        F.concat(F.lit("label '"), F.col("label"), F.lit("' used by multiple resources")).alias("message"),
    )


def domain_range_mismatches(triples: DataFrame) -> DataFrame:
    """For every individual assertion: is the property's domain in the
    transitive superclass closure of the subject's types, and its range in
    the closure of the object's types (reference ``:2787-2832``)?

    assertions x property-domain x type-closure joins; the closure and the
    domain/range maps are schema-sized -> broadcast; the only large input
    is the assertion set itself.
    """
    closure = expand_superclasses(triples, RDFS.subClassOf)
    types = triples.filter(F.col("pred") == RDF.type).select(
        "subj", F.col("obj").alias("cls")
    )
    # type closure: every (individual, ancestor-class)
    type_closure = (
        types.join(closure, "cls", "left")
        .select("subj", F.coalesce("ancestor", "cls").alias("cls"))
        .distinct()
    )
    domain = triples.filter(F.col("pred") == RDFS.domain).select(
        F.col("subj").alias("prop"), F.col("obj").alias("dcls")
    )
    range_ = triples.filter(F.col("pred") == RDFS.range).select(
        F.col("subj").alias("prop"), F.col("obj").alias("rcls")
    )
    inds = type_slice(triples, OWL.NamedIndividual)
    assertions = (
        triples.join(inds, "subj", "left_semi")
        .filter(
            ~F.col("pred").isin(RDF.type, RDFS.label, RDFS.comment)
            & ~F.col("pred").startswith("http://www.w3.org/")
        )
        .select("subj", "pred", "obj", "obj_kind")
    )
    dom_checked = (
        assertions.join(F.broadcast(domain), assertions["pred"] == domain["prop"])
        .join(
            type_closure.withColumnRenamed("cls", "dcls"),
            ["subj", "dcls"],
            "left_anti",
        )
        .select("subj")
        .distinct()
    )
    dom_issues = _issue(
        dom_checked, "error", "domain_mismatch",
        "assertion violates property domain",
    )
    rng_checked = (
        assertions.filter(F.col("obj_kind") == "uri")
        .join(F.broadcast(range_), assertions["pred"] == range_["prop"])
        .join(
            type_closure.select(
                F.col("subj").alias("obj"), F.col("cls").alias("rcls")
            ),
            ["obj", "rcls"],
            "left_anti",
        )
        .select(F.col("obj").alias("subj"))
        .distinct()
    )
    rng_issues = _issue(
        rng_checked, "error", "range_mismatch",
        "assertion violates property range",
    )
    return dom_issues.unionByName(rng_issues)


def validate(triples: DataFrame) -> DataFrame:
    """Full OWL validation (reference ``validate``, ``:2634-2851``): the
    ``owl`` rows of ``_NODE_RULES`` over one :func:`_node_flags` fold,
    plus duplicate labels and domain/range mismatches."""
    out = (
        _rule_hits(_node_flags(triples), "owl")
        .unionByName(duplicate_label_issues(triples))
        .unionByName(domain_range_mismatches(triples))
    )
    return out.orderBy("severity", "issue_type", "subject")


# --------------------------------------------------------------------------
# SKOS validation (reference ontology_manager.py:1634-1717)
# --------------------------------------------------------------------------


def validate_skos(triples: DataFrame) -> DataFrame:
    """SKOS validation: the ``skos`` rows of ``_NODE_RULES`` over one
    :func:`_node_flags` fold, plus duplicate prefLabels per scheme and
    broader cycles."""
    # one ConceptScheme typing, if any, gates not_in_scheme (reference :1660)
    some_scheme = (
        triples.filter((F.col("pred") == RDF.type) & (F.col("obj") == SKOS.ConceptScheme))
        .select(F.lit(True).alias("some_scheme"))
        .limit(1)
    )
    presence = _rule_hits(_node_flags(triples).join(some_scheme, F.lit(True), "left"), "skos")

    # duplicate prefLabel per scheme (reference :1668-1683)
    pref = triples.filter(F.col("pred") == SKOS.prefLabel).select(
        "subj", F.col("obj").alias("pref_label")
    )
    scheme_of = triples.filter(F.col("pred") == SKOS.inScheme).select(
        "subj", F.col("obj").alias("scheme")
    )
    dup_pref = (
        pref.join(scheme_of, "subj")
        .groupBy("scheme", "pref_label")
        .agg(
            F.count_distinct("subj").alias("n"),
            F.array_sort(F.collect_set("subj")).alias("subjects"),
        )
        .filter(F.col("n") > 1)
        .select(
            F.lit("warning").alias("severity"),
            F.lit("duplicate_prefLabel").alias("issue_type"),
            F.explode("subjects").alias("subject"),
            F.concat(
                F.lit("prefLabel '"), F.col("pref_label"),
                F.lit("' duplicated in scheme"),
            ).alias("message"),
        )
    )

    cycles = detect_broader_cycles(triples, SKOS.broader).select(
        F.lit("error").alias("severity"),
        F.lit("broader_cycle").alias("issue_type"),
        F.col("concept").alias("subject"),
        F.concat(
            local_name_col(F.col("concept")), F.lit(": broader chain forms a cycle")
        ).alias("message"),
    )

    return (
        presence.unionByName(dup_pref)
        .unionByName(cycles)
        .orderBy("severity", "issue_type", "subject")
    )


# --------------------------------------------------------------------------
# SHACL-lite cardinality shapes
# --------------------------------------------------------------------------


def shacl_min_max(triples: DataFrame, shapes: DataFrame) -> DataFrame:
    """(focus, cls, prop, n_values, violation) — SHACL-style min/max
    cardinality conformance.  ``shapes`` has columns (cls, prop,
    min_count, max_count); ``max_count`` NULL means unbounded.  A shape
    targets every instance of ``cls`` *or any of its subclasses*
    (rdfs-entailed targetClass, the useful reading for an ontology-
    backed KG), and emits one row per (focus, shape) whose assertion
    count for ``prop`` falls outside [min_count, max_count].

    The industry-standard validation the reference's hand-rolled
    ``validate`` rules approximate (missing-label = minCount 1 on
    rdfs:label); expressing shapes as data makes the rule set a table,
    not code.

    Scale shape: shapes and the subclass closure are vocabulary-sized
    broadcasts; targets ride the rdf:type scan and counts ride one
    (subj, pred)-keyed two-phase agg over the property slice (filtered
    by a broadcast semi-join to shape props before the shuffle).  The
    final target⋈count join is keyed on the focus node — data-scale
    but co-partitioned with the count agg's output."""
    anc = expand_superclasses(triples, RDFS.subClassOf)
    # shape targets: instance typed cls or any subclass of cls
    sub_of = anc.select(
        F.col("cls").alias("sub"), F.col("ancestor").alias("sup")
    )
    shape_cls = shapes.select("cls").distinct()
    # classes whose instances the shape targets (cls itself + descendants)
    targets_cls = (
        shape_cls.join(
            F.broadcast(sub_of), shape_cls["cls"] == sub_of["sup"], "left"
        )
        .select(
            F.col("cls"),
            F.coalesce(F.col("sub"), F.col("cls")).alias("typed_as"),
        )
        .distinct()
    )
    typed = triples.filter(F.col("pred") == RDF.type).select(
        F.col("subj").alias("focus"), F.col("obj").alias("typed_as")
    )
    focus = typed.join(F.broadcast(targets_cls), "typed_as").select(
        "focus", "cls"
    ).distinct()
    props = shapes.select("prop").distinct()
    counts = (
        triples.join(
            F.broadcast(props),
            triples["pred"] == props["prop"],
            "left_semi",
        )
        .groupBy(F.col("subj").alias("focus"), F.col("pred").alias("prop"))
        .agg(F.count(F.lit(1)).alias("n_values"))
    )
    checked = (
        focus.join(F.broadcast(shapes), "cls")
        .join(counts, ["focus", "prop"], "left")
        .withColumn("n_values", F.coalesce("n_values", F.lit(0)))
    )
    violation = (
        F.when(F.col("n_values") < F.col("min_count"), "minCount")
        .when(
            F.col("max_count").isNotNull()
            & (F.col("n_values") > F.col("max_count")),
            "maxCount",
        )
    )
    return (
        checked.withColumn("violation", violation)
        .filter(F.col("violation").isNotNull())
        .select("focus", "cls", "prop", "n_values", "violation")
        .orderBy("focus", "cls", "prop")
    )


def shacl_min_max_sql(triples_cte: str, shapes_values: str) -> str:
    """DuckDB twin; ``shapes_values`` is a VALUES relation for
    ``shapes(cls, prop, min_count, max_count)``."""
    return f"""{triples_cte},
shapes(cls, prop, min_count, max_count) AS (SELECT * FROM {shapes_values}),
anc AS MATERIALIZED (
  WITH RECURSIVE r(cls, ancestor) AS (
    SELECT DISTINCT subj, subj FROM triples
      WHERE pred = '{RDFS.subClassOf}'
    UNION
    SELECT DISTINCT obj, obj FROM triples
      WHERE pred = '{RDFS.subClassOf}'
    UNION
    SELECT r.cls, e.obj FROM r
      JOIN (SELECT subj, obj FROM triples
            WHERE pred = '{RDFS.subClassOf}') e ON r.ancestor = e.subj)
  SELECT * FROM r),
targets_cls AS MATERIALIZED (
  SELECT DISTINCT s.cls, coalesce(a.cls, s.cls) AS typed_as
  FROM (SELECT DISTINCT cls FROM shapes) s
  LEFT JOIN anc a ON a.ancestor = s.cls),
focus AS MATERIALIZED (
  SELECT DISTINCT t.subj AS focus, tc.cls
  FROM triples t JOIN targets_cls tc ON t.obj = tc.typed_as
  WHERE t.pred = '{RDF.type}'),
counts AS (
  SELECT subj AS focus, pred AS prop, count(*)::BIGINT AS n_values
  FROM triples
  WHERE pred IN (SELECT DISTINCT prop FROM shapes)
  GROUP BY 1, 2)
SELECT f.focus, f.cls, s.prop,
  coalesce(c.n_values, 0) AS n_values,
  CASE WHEN coalesce(c.n_values, 0) < s.min_count THEN 'minCount'
       WHEN s.max_count IS NOT NULL
            AND coalesce(c.n_values, 0) > s.max_count THEN 'maxCount'
  END AS violation
FROM focus f
JOIN shapes s ON f.cls = s.cls
LEFT JOIN counts c ON c.focus = f.focus AND c.prop = s.prop
WHERE (coalesce(c.n_values, 0) < s.min_count)
   OR (s.max_count IS NOT NULL AND coalesce(c.n_values, 0) > s.max_count)
ORDER BY f.focus, f.cls, s.prop
"""


def shacl_value_constraints(
    triples: DataFrame, vshapes: DataFrame
) -> DataFrame:
    """(focus, cls, prop, kind, value) — SHACL-style VALUE constraint
    conformance, completing :func:`shacl_min_max`'s cardinality-only
    surface with the four constraint kinds real shape graphs lean on:

      * ``datatype`` — literal with that datatype (RDF 1.1: a plain
        literal IS xsd:string, so NULL obj_dt counts as xsd:string);
      * ``class``    — object is an instance of the class or any
        rdfs-subclass (entailed sh:class);
      * ``pattern``  — literal matching the regex (kept to the
        Java/RE2-common subset so the DuckDB twin agrees);
      * ``in``       — value in the '|'-separated enumeration.

    ``vshapes`` has columns (cls, prop, kind, arg); targeting follows
    shacl_min_max (instance of cls or subclass).  Emits one row per
    violating assertion.

    Scale shape: shapes + subclass closure broadcast; assertions ride
    one property-sliced scan (broadcast semi-join on shape props before
    any shuffle); the class check is one extra left join against the
    typed-instances slice keyed by object."""
    anc = expand_superclasses(triples, RDFS.subClassOf)
    sub_of = anc.select(
        F.col("cls").alias("sub"), F.col("ancestor").alias("sup")
    )
    shape_cls = vshapes.select("cls").distinct()
    targets_cls = (
        shape_cls.join(
            F.broadcast(sub_of), shape_cls["cls"] == sub_of["sup"], "left"
        )
        .select(
            F.col("cls"),
            F.coalesce(F.col("sub"), F.col("cls")).alias("typed_as"),
        )
        .distinct()
    )
    typed = triples.filter(F.col("pred") == RDF.type).select(
        F.col("subj").alias("focus"), F.col("obj").alias("typed_as")
    )
    focus = (
        typed.join(F.broadcast(targets_cls), "typed_as")
        .select("focus", "cls")
        .distinct()
    )
    props = vshapes.select("prop").distinct()
    asserts = triples.join(
        F.broadcast(props), triples["pred"] == props["prop"], "left_semi"
    ).select(
        F.col("subj").alias("focus"),
        F.col("pred").alias("prop"),
        F.col("obj").alias("value"),
        "obj_kind",
        "obj_dt",
    )
    # object's entailed classes (direct type + superclasses), for sh:class
    obj_types = (
        typed.select(F.col("focus").alias("value"), "typed_as")
        .join(
            F.broadcast(sub_of),
            F.col("typed_as") == F.col("sub"),
            "left",
        )
        .select(
            "value",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.col("typed_as"),
                        F.coalesce(F.col("sup"), F.col("typed_as")),
                    )
                )
            ).alias("is_a"),
        )
        .distinct()
    )
    checked = (
        focus.join(F.broadcast(vshapes), "cls")
        .join(asserts, ["focus", "prop"])
        .join(
            obj_types.withColumnRenamed("is_a", "arg").withColumn(
                "cls_ok", F.lit(1)
            ),
            ["value", "arg"],
            "left",
        )
    )
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    ok = (
        F.when(
            F.col("kind") == "datatype",
            (F.col("obj_kind") == "literal")
            & (F.coalesce("obj_dt", F.lit(xsd_string)) == F.col("arg")),
        )
        .when(F.col("kind") == "class", F.col("cls_ok").isNotNull())
        .when(
            F.col("kind") == "pattern",
            (F.col("obj_kind") == "literal")
            & F.expr("value RLIKE arg"),
        )
        .when(
            F.col("kind") == "in",
            F.array_contains(F.split("arg", "\\|"), F.col("value")),
        )
    )
    return (
        checked.filter(~F.coalesce(ok, F.lit(False)))
        .select("focus", "cls", "prop", "kind", "value")
        .orderBy("focus", "prop", "kind", "value")
    )


def shacl_value_constraints_sql(
    triples_cte: str, vshapes_values: str
) -> str:
    """DuckDB twin; ``vshapes_values`` is a VALUES relation for
    ``vshapes(cls, prop, kind, arg)``.  regexp_matches is unanchored
    like Java's find — shape patterns carry explicit ^$ anchors so
    both dialects evaluate the same predicate."""
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    return f"""{triples_cte},
vshapes(cls, prop, kind, arg) AS (SELECT * FROM {vshapes_values}),
anc AS MATERIALIZED (
  WITH RECURSIVE r(cls, ancestor) AS (
    SELECT subj, obj FROM triples
    WHERE pred = 'http://www.w3.org/2000/01/rdf-schema#subClassOf'
    UNION
    SELECT r.cls, t.obj FROM r JOIN triples t
      ON r.ancestor = t.subj
     AND t.pred = 'http://www.w3.org/2000/01/rdf-schema#subClassOf')
  SELECT * FROM r),
targets_cls AS MATERIALIZED (
  SELECT s.cls, coalesce(a.cls, s.cls) AS typed_as
  FROM (SELECT DISTINCT cls FROM vshapes) s
  LEFT JOIN anc a ON a.ancestor = s.cls),
typed AS MATERIALIZED (
  SELECT subj AS focus, obj AS typed_as FROM triples
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
focus AS MATERIALIZED (
  SELECT DISTINCT t.focus, tc.cls
  FROM typed t JOIN targets_cls tc USING (typed_as)),
asserts AS MATERIALIZED (
  SELECT subj AS focus, pred AS prop, obj AS value, obj_kind, obj_dt
  FROM triples WHERE pred IN (SELECT DISTINCT prop FROM vshapes)),
obj_types AS MATERIALIZED (
  SELECT DISTINCT value, is_a FROM (
    SELECT t.focus AS value, t.typed_as AS is_a FROM typed t
    UNION
    SELECT t.focus, a.ancestor FROM typed t
    JOIN anc a ON t.typed_as = a.cls)),
checked AS (
  SELECT f.focus, f.cls, v.prop, v.kind, v.arg,
         a.value, a.obj_kind, a.obj_dt,
         ot.is_a IS NOT NULL AS cls_ok
  FROM focus f
  JOIN vshapes v USING (cls)
  JOIN asserts a ON a.focus = f.focus AND a.prop = v.prop
  LEFT JOIN obj_types ot ON ot.value = a.value AND ot.is_a = v.arg)
SELECT focus, cls, prop, kind, value
FROM checked
WHERE NOT coalesce(
  CASE kind
    WHEN 'datatype' THEN obj_kind = 'literal'
      AND coalesce(obj_dt, '{xsd_string}') = arg
    WHEN 'class' THEN cls_ok
    WHEN 'pattern' THEN obj_kind = 'literal'
      AND regexp_matches(value, arg)
    WHEN 'in' THEN list_contains(string_split(arg, '|'), value)
  END, FALSE)
ORDER BY focus, prop, kind, value
"""


# --------------------------------------------------------------------- #
# OWL 2 RL consistency checks (false-rules: a hit = inconsistent graph)
# --------------------------------------------------------------------- #


def _pair_issue(df: DataFrame, issue_type: str, message: str) -> DataFrame:
    """Like ``_issue`` but names BOTH parties (columns subj/other)."""
    return df.select(
        F.lit("error").alias("severity"),
        F.lit(issue_type).alias("issue_type"),
        F.col("subj").alias("subject"),
        F.concat(
            local_name_col(F.col("subj")),
            F.lit(" / "),
            local_name_col(F.col("other")),
            F.lit(": " + message),
        ).alias("message"),
    )


def _effective_types(triples: DataFrame) -> DataFrame:
    """(subj, cls): rdf:type facts expanded through the subClassOf
    closure — an instance of Employee IS a Person for disjointness.
    Direct types union (types x closure); the closure side is
    class-vocabulary-sized, so Catalyst broadcasts it."""
    types = triples.filter(F.col("pred") == RDF.type).select(
        "subj", F.col("obj").alias("cls")
    )
    anc = expand_superclasses(triples, RDFS.subClassOf)
    inherited = types.join(anc, types.cls == anc.cls, "inner").select(
        types.subj, anc.ancestor.alias("cls")
    )
    return types.unionByName(inherited).distinct()


def _sym_canon(df: DataFrame, a: str, b: str) -> DataFrame:
    """Symmetric axiom rows canonicalized to (least, greatest) pairs."""
    return df.select(
        F.least(F.col(a), F.col(b)).alias(a),
        F.greatest(F.col(a), F.col(b)).alias(b),
    ).filter(F.col(a) != F.col(b)).distinct()


def owl_consistency(triples: DataFrame) -> DataFrame:
    """OWL 2 RL *inconsistency* detectors — the profile's false-rules,
    each one equi-join-shaped (reference runs owlrl which raises on
    these; surfacing them as rows is the batch-friendly form):

    * ``cax-dw``   x type C1, x type C2, C1 owl:disjointWith C2 —
      **closure-aware**: membership inherits through subClassOf.
    * ``prp-asyp`` (x,p,y) and (y,p,x) for asymmetric p (x != y).
    * ``prp-irp``  (x,p,x) for irreflexive p.
    * ``prp-pdw``  (x,p1,y) and (x,p2,y), p1 owl:propertyDisjointWith p2.
    * ``eq-diff1`` x owl:sameAs y AND x owl:differentFrom y (either
      stated direction of either predicate).
    * ``cls-nothing2`` x rdf:type owl:Nothing.

    Scale shape: every detector is a join keyed on instance or (s,o)
    pairs against a class/property-vocabulary-sized axiom side —
    broadcast joins at any corpus size; no closure beyond the shared
    ``expand_superclasses`` (O(log depth) doubling).  Compose after
    ``reasoning.apply_reasoning`` to check the *entailed* graph.
    """
    eff = _effective_types(triples).persist()

    dw = _sym_canon(
        triples.filter(F.col("pred") == OWL.disjointWith), "subj", "obj"
    ).select(F.col("subj").alias("c1"), F.col("obj").alias("c2"))
    cax = (
        eff.alias("t1")
        .join(dw, F.col("t1.cls") == F.col("c1"))
        .join(
            eff.alias("t2"),
            (F.col("t2.subj") == F.col("t1.subj"))
            & (F.col("t2.cls") == F.col("c2")),
        )
        .select(F.col("t1.subj").alias("subj"), "c1", "c2")
        .distinct()
        .select(
            F.lit("error").alias("severity"),
            F.lit("disjoint_classes").alias("issue_type"),
            F.col("subj").alias("subject"),
            F.concat(
                local_name_col(F.col("subj")),
                F.lit(": instance of disjoint classes "),
                local_name_col(F.col("c1")),
                F.lit(" / "),
                local_name_col(F.col("c2")),
            ).alias("message"),
        )
    )

    asym = triples.filter(
        (F.col("pred") == RDF.type) & (F.col("obj") == OWL.AsymmetricProperty)
    ).select(F.col("subj").alias("p"))
    edges = triples.select("subj", "pred", "obj").alias("e1")
    rev = triples.select(
        F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
    ).alias("e2")
    asyp = (
        edges.join(asym, F.col("e1.pred") == F.col("p"))
        .join(
            rev,
            (F.col("e2.subj") == F.col("e1.subj"))
            & (F.col("e2.pred") == F.col("e1.pred"))
            & (F.col("e2.obj") == F.col("e1.obj")),
        )
        .filter(F.col("e1.subj") < F.col("e1.obj"))
        .select(F.col("e1.subj").alias("subj"), F.col("e1.obj").alias("other"))
        .distinct()
    )

    irr = triples.filter(
        (F.col("pred") == RDF.type) & (F.col("obj") == OWL.IrreflexiveProperty)
    ).select(F.col("subj").alias("p"))
    irp = (
        triples.filter(F.col("subj") == F.col("obj"))
        .join(irr, F.col("pred") == F.col("p"))
        .select("subj", F.col("pred").alias("other"))
        .distinct()
    )

    pdw = _sym_canon(
        triples.filter(F.col("pred") == OWL.propertyDisjointWith), "subj", "obj"
    ).select(F.col("subj").alias("p1"), F.col("obj").alias("p2"))
    pdv = (
        triples.alias("a")
        .join(pdw, F.col("a.pred") == F.col("p1"))
        .join(
            triples.alias("b"),
            (F.col("b.subj") == F.col("a.subj"))
            & (F.col("b.obj") == F.col("a.obj"))
            & (F.col("b.pred") == F.col("p2")),
        )
        .select(F.col("a.subj").alias("subj"), F.col("a.obj").alias("other"))
        .distinct()
    )

    same = _sym_canon(
        triples.filter(F.col("pred") == OWL.sameAs), "subj", "obj"
    )
    diff = _sym_canon(
        triples.filter(F.col("pred") == OWL.differentFrom), "subj", "obj"
    )
    eqd = same.join(diff, ["subj", "obj"]).select(
        "subj", F.col("obj").alias("other")
    )

    nothing = triples.filter(
        (F.col("pred") == RDF.type) & (F.col("obj") == OWL.Nothing)
    ).select("subj")

    out = (
        cax
        .unionByName(
            _pair_issue(asyp, "asymmetric_violation",
                        "asymmetric property holds both ways")
        )
        .unionByName(
            _pair_issue(irp, "irreflexive_violation",
                        "irreflexive property is reflexive here")
        )
        .unionByName(
            _pair_issue(pdv, "disjoint_properties",
                        "disjoint properties share a statement")
        )
        .unionByName(
            _pair_issue(eqd, "same_and_different",
                        "sameAs contradicts differentFrom")
        )
        .unionByName(
            _issue(nothing, "error", "nothing_member",
                   "individual typed owl:Nothing")
        )
    )
    return out.orderBy("issue_type", "subject", "message")


# ---------------------------------------------------------------------------
# XSD lexical-form validation.  SHACL's `datatype` constraint checks
# the DECLARED datatype; this checks the LEXICAL FORM — "forty"
# ^^xsd:integer passes the former and is still garbage.  Web
# extraction produces such literals constantly (scraped tables,
# truncated values), so the ingest gate needs a per-datatype regex
# pass.  Patterns are deliberately in the Java-regex ∩ RE2 dialect
# subset so Spark `rlike` and DuckDB `regexp_matches` agree.
# ---------------------------------------------------------------------------

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"

#: datatype local name -> anchored lexical pattern (conservative: XSD
#: special values INF/NaN for double/float are not accepted here —
#: at ingest they are far more often extraction junk than intent).
XSD_LEXICAL: dict[str, str] = {
    "integer": r"^[+-]?[0-9]+$",
    "int": r"^[+-]?[0-9]+$",
    "long": r"^[+-]?[0-9]+$",
    "nonNegativeInteger": r"^\+?[0-9]+$",
    "decimal": r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$",
    "double": r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$",
    "float": r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$",
    "boolean": r"^(true|false|0|1)$",
    "date": r"^-?[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
            r"(Z|[+-][0-9]{2}:[0-9]{2})?$",
    "dateTime": r"^-?[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
                r"T[0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?"
                r"(Z|[+-][0-9]{2}:[0-9]{2})?$",
}


def validate_literals(triples: DataFrame) -> DataFrame:
    """(subject, predicate, value, datatype, issue_type) — typed
    literals whose lexical form does not match their declared XSD
    datatype.  Unknown datatypes and untyped literals pass (RDF 1.1:
    they are xsd:string — any form is valid).

    Scale shape: a single projection/filter chain over literal rows —
    the datatype dispatch is one CASE over the (tiny, fixed) pattern
    map, whole-stage codegen, no shuffle before the final sort."""
    expr = None
    for name, pat in XSD_LEXICAL.items():
        cond = (F.col("obj_dt") == _XSD_NS + name) & ~F.col("obj").rlike(pat)
        expr = cond if expr is None else (expr | cond)
    return (
        triples.filter(
            (F.col("obj_kind") == "literal")
            & F.col("obj_dt").isNotNull()
            & expr
        )
        .select(
            F.col("subj").alias("subject"),
            F.col("pred").alias("predicate"),
            F.col("obj").alias("value"),
            F.col("obj_dt").alias("datatype"),
            F.lit("malformed_literal").alias("issue_type"),
        )
        .orderBy("subject", "predicate", "value")
    )


def validate_literals_sql(triples_src: str = "triples") -> str:
    """DuckDB twin — identical anchored patterns."""
    conds = " OR ".join(
        f"(obj_dt = '{_XSD_NS}{name}' AND NOT regexp_matches(obj, '{pat}'))"
        for name, pat in XSD_LEXICAL.items()
    )
    return f"""
SELECT subj AS subject, pred AS predicate, obj AS value,
       obj_dt AS datatype, 'malformed_literal' AS issue_type
FROM {triples_src}
WHERE obj_kind = 'literal' AND obj_dt IS NOT NULL AND ({conds})
ORDER BY subject, predicate, value"""


# ---------------------------------------------------------------------------
# SHACL shape induction (SheXer-style, public literature): mine the
# property shapes a class's instances actually exhibit — the inverse
# of shacl_min_max/shacl_value_constraints, which CHECK declared
# shapes.  Web-induced ontologies rarely come with shapes; mining
# them from usage gives the validator something to enforce.
# ---------------------------------------------------------------------------


def mine_shapes(
    triples: DataFrame, min_share: float = 0.9, min_instances: int = 2
) -> DataFrame:
    """(cls, pred, n_instances, n_with_pred, share, suggest_min1) —
    per (class, predicate): how many of the class's instances carry
    the predicate; ``suggest_min1`` proposes ``sh:minCount 1`` when
    the share is at least ``min_share`` over at least
    ``min_instances`` members (support gate).  rdf:type itself is
    excluded from the property side.

    Scale shape: one class-membership projection + one (instance,
    pred) distinct projection + one equi-join on the instance id +
    two keyed aggregates — all map-side combinable; the output is
    (class x predicate)-vocabulary sized.  Integer-ratio shares."""
    members = (
        triples.filter(F.col("pred") == RDF.type)
        .select(F.col("subj").alias("inst"), F.col("obj").alias("cls"))
        .distinct()
    )
    usage = (
        triples.filter(F.col("pred") != RDF.type)
        .select(F.col("subj").alias("inst"), "pred")
        .distinct()
    )
    sizes = members.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_instances")
    )
    counts = (
        members.join(usage, "inst")
        .groupBy("cls", "pred")
        .agg(F.count(F.lit(1)).alias("n_with_pred"))
    )
    return (
        counts.join(F.broadcast(sizes), "cls")
        .select(
            "cls",
            "pred",
            "n_instances",
            "n_with_pred",
            (
                F.col("n_with_pred") / F.col("n_instances").cast("double")
            ).alias("share"),
            (
                (
                    F.col("n_with_pred")
                    / F.col("n_instances").cast("double")
                    >= min_share
                )
                & (F.col("n_instances") >= min_instances)
            ).alias("suggest_min1"),
        )
        .orderBy("cls", "pred")
    )


def mine_shapes_sql(
    triples_src: str = "triples",
    min_share: float = 0.9,
    min_instances: int = 2,
) -> str:
    """DuckDB twin."""
    return f"""
members AS (
  SELECT DISTINCT subj AS inst, obj AS cls FROM {triples_src}
  WHERE pred = '{RDF.type}'),
usage AS (
  SELECT DISTINCT subj AS inst, pred FROM {triples_src}
  WHERE pred <> '{RDF.type}'),
sizes AS (SELECT cls, count(*)::BIGINT AS n_instances
          FROM members GROUP BY cls),
counts AS (
  SELECT m.cls, u.pred, count(*)::BIGINT AS n_with_pred
  FROM members m JOIN usage u USING (inst)
  GROUP BY 1, 2)
SELECT c.cls, c.pred, s.n_instances, c.n_with_pred,
  c.n_with_pred / s.n_instances::DOUBLE AS share,
  (c.n_with_pred / s.n_instances::DOUBLE >= {min_share}
   AND s.n_instances >= {min_instances}) AS suggest_min1
FROM counts c JOIN sizes s USING (cls)
ORDER BY cls, pred"""


# ---------------------------------------------------------------------------
# Numeric fact outlier detection (SDValidate family)
# ---------------------------------------------------------------------------


def numeric_outliers(triples: DataFrame, iqr_mult: float = 1.5) -> DataFrame:
    """(pred, subj, value, q1, q3, fence_lo, fence_hi) — numeric
    literal facts outside the Tukey fences of their PREDICATE's value
    distribution (the SDValidate/Paulheim error-detection family,
    public literature): a population of 9.9e9 is not wrong because
    schema says xsd:double but because every other ``population`` fact
    is orders of magnitude smaller.

    Exactness: quartiles are RANK-picked (the value at row_number
    ceil(n/4) / ceil(3n/4) per predicate, ties by subject) — no
    interpolation, so Spark and DuckDB select the *same stored
    double*, and the fence arithmetic is two IEEE ops on identical
    inputs.  One per-predicate window sort + a broadcast join of the
    (predicate-count-sized) quartile table back onto the facts."""
    from pyspark.sql import Window

    num = (
        triples.filter(
            (F.col("obj_kind") == "literal")
            & F.col("obj").rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$")
        )
        .select(
            "pred", "subj", F.col("obj").cast("double").alias("value")
        )
        .persist()  # consumers: quartile ranks + the fence probe
    )
    w = Window.partitionBy("pred").orderBy("value", "subj")
    ranked = num.withColumn("rn", F.row_number().over(w))
    counts = num.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
    qs = (
        ranked.join(F.broadcast(counts), "pred")
        .filter(
            (F.col("rn") == F.ceil(F.col("n") / 4))
            | (F.col("rn") == F.ceil(F.col("n") * 3 / 4))
        )
        .groupBy("pred")
        .agg(
            F.min("value").alias("q1"),
            F.max("value").alias("q3"),
        )
        .filter(F.col("q1") != F.col("q3"))  # degenerate distributions skip
    )
    lo = F.col("q1") - F.lit(iqr_mult) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(iqr_mult) * (F.col("q3") - F.col("q1"))
    return (
        num.join(F.broadcast(qs), "pred")
        .withColumn("fence_lo", lo)
        .withColumn("fence_hi", hi)
        .filter((F.col("value") < F.col("fence_lo")) | (F.col("value") > F.col("fence_hi")))
        .select("pred", "subj", "value", "q1", "q3", "fence_lo", "fence_hi")
        .orderBy("pred", "subj")
    )


def numeric_outliers_sql(
    triples_cte: str = "triples", iqr_mult: float = 1.5
) -> str:
    """DuckDB twin: identical rank-picked quartiles and fences."""
    return f"""
num AS MATERIALIZED (
  SELECT pred, subj, obj::DOUBLE AS value FROM {triples_cte}
  WHERE obj_kind = 'literal'
    AND regexp_matches(obj, '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$')),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY pred ORDER BY value, subj) AS rn
  FROM num),
counts AS (SELECT pred, count(*)::BIGINT AS n FROM num GROUP BY pred),
qs AS (
  SELECT r.pred, min(r.value) AS q1, max(r.value) AS q3
  FROM ranked r JOIN counts c ON r.pred = c.pred
  WHERE r.rn = ceil(c.n / 4.0) OR r.rn = ceil(c.n * 3 / 4.0)
  GROUP BY r.pred
  HAVING min(r.value) <> max(r.value))
SELECT num.pred AS pred, subj, value, q1, q3,
       q1 - {iqr_mult!r} * (q3 - q1) AS fence_lo,
       q3 + {iqr_mult!r} * (q3 - q1) AS fence_hi
FROM num JOIN qs ON num.pred = qs.pred
WHERE value < q1 - {iqr_mult!r} * (q3 - q1)
   OR value > q3 + {iqr_mult!r} * (q3 - q1)
ORDER BY num.pred, subj"""


#: planted-outlier fixture: population with a 9.9e9 typo and a
#: negative, age with an impossible 530, price clean (no outliers),
#: constant predicate (degenerate, skipped), a non-numeric literal.
OUTLIER_FIXTURE: list[tuple] = [
    *[
        ("http://t/city" + str(i), "http://t/population", str(v), "literal",
         None, "http://www.w3.org/2001/XMLSchema#integer")
        for i, v in enumerate(
            [12000, 15000, 18000, 21000, 25000, 30000, 34000, 40000]
        )
    ],
    ("http://t/cityX", "http://t/population", "9900000000", "literal",
     None, "http://www.w3.org/2001/XMLSchema#integer"),
    ("http://t/cityY", "http://t/population", "-500000", "literal",
     None, "http://www.w3.org/2001/XMLSchema#integer"),
    *[
        ("http://t/p" + str(i), "http://t/age", str(v), "literal",
         None, "http://www.w3.org/2001/XMLSchema#integer")
        for i, v in enumerate([21, 25, 30, 34, 41, 44, 52, 60])
    ],
    ("http://t/pX", "http://t/age", "530", "literal",
     None, "http://www.w3.org/2001/XMLSchema#integer"),
    *[
        ("http://t/i" + str(i), "http://t/price", str(v), "literal",
         None, "http://www.w3.org/2001/XMLSchema#decimal")
        for i, v in enumerate([10, 11, 12, 13, 14, 15, 16, 17])
    ],
    ("http://t/c1", "http://t/floors", "3", "literal", None, None),
    ("http://t/c2", "http://t/floors", "3", "literal", None, None),
    ("http://t/c3", "http://t/name", "acme", "literal", None, None),
]


def outlier_fixture_df(spark):
    from ..model import triples_df

    return triples_df(spark, OUTLIER_FIXTURE)


def outlier_fixture_cte(alias: str = "triples") -> str:
    vals = ",\n    ".join(
        "("
        + ", ".join(
            "CAST(NULL AS VARCHAR)" if v is None else f"'{v}'" for v in r
        )
        + ")"
        for r in OUTLIER_FIXTURE
    )
    return (
        f"{alias}(subj, pred, obj, obj_kind, obj_lang, obj_dt) AS "
        f"(SELECT * FROM (VALUES\n    {vals}))"
    )


# ---------------------------------------------------------------------------
# OWL 2 RL profile conformance (schema-level): which class-expression
# constructs appear in positions the RL grammar does not allow.
# Complements owl_consistency (data-level false-rules): this checker
# explains *why a rule-based reasoner will silently ignore an axiom*
# (it is outside the profile) before any instance data is touched.
# Reference analogue: the workbench runs owlrl (RL semantics) —
# ``ontology_manager.py`` apply_reasoning — which simply has no rules
# for non-RL constructs; surfacing them as rows is the batch form of
# Protégé-style profile validation.  Allowance table transcribed from
# the public OWL 2 Profiles spec (§5.2 grammar: subClassExpression /
# superClassExpression / equivClassExpression).
# ---------------------------------------------------------------------------

#: construct predicate -> canonical construct label (qualified
#: cardinalities normalize onto their unqualified family).
_RL_CONSTRUCT_PREDS: list[tuple[str, str]] = [
    (OWL.unionOf, "unionOf"),
    (OWL.intersectionOf, "intersectionOf"),
    (OWL.complementOf, "complementOf"),
    (OWL.oneOf, "oneOf"),
    (OWL.someValuesFrom, "someValuesFrom"),
    (OWL.allValuesFrom, "allValuesFrom"),
    (OWL.hasValue, "hasValue"),
    (OWL.minCardinality, "minCardinality"),
    (OWL.minQualifiedCardinality, "minCardinality"),
    (OWL.maxCardinality, "maxCardinality"),
    (OWL.maxQualifiedCardinality, "maxCardinality"),
    (OWL.cardinality, "cardinality"),
    (OWL.qualifiedCardinality, "cardinality"),
    (OWL.disjointUnionOf, "disjointUnionOf"),
]
_RL_MAX_PREDS = [OWL.maxCardinality, OWL.maxQualifiedCardinality]

#: (position -> allowed constructs).  superClassExpression positions
#: (subclass_rhs / domain / range) allow maxCardinality only with
#: value 0 or 1 — values >= 2 are normalized to 'maxCardinality_ge2'
#: before this lookup, so the table itself stays value-free.
_RL_ALLOWED: dict[str, frozenset[str]] = {
    "subclass_lhs": frozenset(
        {"intersectionOf", "unionOf", "oneOf", "someValuesFrom", "hasValue"}
    ),
    "subclass_rhs": frozenset(
        {"intersectionOf", "complementOf", "allValuesFrom", "hasValue",
         "maxCardinality"}
    ),
    "domain": frozenset(
        {"intersectionOf", "complementOf", "allValuesFrom", "hasValue",
         "maxCardinality"}
    ),
    "range": frozenset(
        {"intersectionOf", "complementOf", "allValuesFrom", "hasValue",
         "maxCardinality"}
    ),
    "equivalent": frozenset({"intersectionOf", "hasValue"}),
    "class_definition": frozenset({"intersectionOf", "hasValue"}),
}


def owl_rl_profile(triples: DataFrame) -> DataFrame:
    """(node, construct, position, issue) — one row per class-expression
    construct sitting in a position the OWL 2 RL grammar forbids.

    Positions: ``subclass_lhs``/``subclass_rhs`` (the two sides of
    rdfs:subClassOf), ``equivalent`` (either side of
    owl:equivalentClass), ``domain``/``range`` (superclass positions),
    and ``class_definition`` (a NAMED class carrying a direct
    owl:unionOf / oneOf / ... — sugar for an equivalence, so it takes
    the equivalence grammar).

    Depth limit: positions are one level deep.  Only the expression node
    sitting directly in a position is classified; the members of its
    ``rdf:first``/``rdf:rest`` lists and the fillers of nested
    restrictions are not walked.

    Scale shape: the construct classification is one filtered
    projection; positions are filtered projections unioned; the check
    is one equi-join on the expression node against a class-vocabulary-
    sized side (broadcast at corpus scale) plus a constant-folded
    allowance predicate — no closure, no windows."""
    all_preds = [p for p, _ in _RL_CONSTRUCT_PREDS]
    label = None
    for p, name in _RL_CONSTRUCT_PREDS:
        cond = F.when(F.col("pred") == p, F.lit(name))
        label = cond if label is None else label.when(F.col("pred") == p, F.lit(name))
    construct = F.when(
        F.col("pred").isin(_RL_MAX_PREDS)
        & (F.col("obj").cast("int") >= 2),
        F.lit("maxCardinality_ge2"),
    ).otherwise(label)
    cons = (
        triples.filter(F.col("pred").isin(all_preds))
        .select(F.col("subj").alias("node"), construct.alias("construct"))
        .distinct()
    )

    sub = triples.filter(F.col("pred") == RDFS.subClassOf)
    eq = triples.filter(F.col("pred") == OWL.equivalentClass)
    dom = triples.filter(F.col("pred") == RDFS.domain)
    rng = triples.filter(F.col("pred") == RDFS.range)

    def _pos(df, col, name):
        return df.select(
            F.col(col).alias("node"), F.lit(name).alias("position")
        )

    pos = (
        _pos(sub, "subj", "subclass_lhs")
        .unionByName(_pos(sub, "obj", "subclass_rhs"))
        .unionByName(_pos(eq, "subj", "equivalent"))
        .unionByName(_pos(eq, "obj", "equivalent"))
        .unionByName(_pos(dom, "obj", "domain"))
        .unionByName(_pos(rng, "obj", "range"))
        .unionByName(
            cons.filter(F.substring("node", 1, 2) != "_:").select(
                "node", F.lit("class_definition").alias("position")
            )
        )
        .distinct()
    )

    allowed = F.lit(False)
    for p, cs in _RL_ALLOWED.items():
        allowed = allowed | (
            (F.col("position") == p) & F.col("construct").isin(list(cs))
        )
    return (
        cons.join(pos, "node")
        .filter(~allowed)
        .select("node", "construct", "position")
        .distinct()
        .withColumn(
            "issue",
            F.concat(
                F.lit("owl-rl: "),
                F.col("construct"),
                F.lit(" not allowed in "),
                F.col("position"),
            ),
        )
        .orderBy("node", "construct", "position")
    )


def owl_rl_profile_sql(triples_src: str = "triples") -> str:
    """DuckDB oracle.  The allowance table is rendered as an explicit
    (position, construct) VALUES relation transcribed from the spec
    grammar — an anti-join against it, not a mirror of the Spark
    boolean chain."""
    label = " ".join(
        f"WHEN pred = '{p}' THEN '{name}'"
        for p, name in _RL_CONSTRUCT_PREDS
    )
    maxp = ", ".join(f"'{p}'" for p in _RL_MAX_PREDS)
    allp = ", ".join(f"'{p}'" for p, _ in _RL_CONSTRUCT_PREDS)
    allow = ",\n    ".join(
        f"('{pos}', '{c}')"
        for pos, cs in sorted(_RL_ALLOWED.items())
        for c in sorted(cs)
    )
    return f"""
cons AS (
  SELECT DISTINCT subj AS node,
    CASE WHEN pred IN ({maxp}) AND TRY_CAST(obj AS INTEGER) >= 2
         THEN 'maxCardinality_ge2'
         ELSE CASE {label} END END AS construct
  FROM {triples_src} WHERE pred IN ({allp})),
pos AS (
  SELECT DISTINCT node, position FROM (
    SELECT subj AS node, 'subclass_lhs' AS position FROM {triples_src}
      WHERE pred = '{RDFS.subClassOf}'
    UNION ALL SELECT obj, 'subclass_rhs' FROM {triples_src}
      WHERE pred = '{RDFS.subClassOf}'
    UNION ALL SELECT subj, 'equivalent' FROM {triples_src}
      WHERE pred = '{OWL.equivalentClass}'
    UNION ALL SELECT obj, 'equivalent' FROM {triples_src}
      WHERE pred = '{OWL.equivalentClass}'
    UNION ALL SELECT obj, 'domain' FROM {triples_src}
      WHERE pred = '{RDFS.domain}'
    UNION ALL SELECT obj, 'range' FROM {triples_src}
      WHERE pred = '{RDFS.range}'
    UNION ALL SELECT node, 'class_definition' FROM cons
      WHERE substr(node, 1, 2) <> '_:')),
rl_allow(position, construct) AS (VALUES
    {allow}),
viol AS (
  SELECT DISTINCT c.node, c.construct, p.position
  FROM cons c JOIN pos p USING (node)
  WHERE NOT EXISTS (SELECT 1 FROM rl_allow a
                    WHERE a.position = p.position
                      AND a.construct = c.construct))
SELECT node, construct, position,
       'owl-rl: ' || construct || ' not allowed in ' || position AS issue
FROM viol ORDER BY node, construct, position"""
