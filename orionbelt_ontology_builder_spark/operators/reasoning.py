"""Forward-chaining RDFS / OWL-RL reasoning as a DataFrame fixpoint
(SURVEY.md §2.9).

The reference delegates to ``owlrl.DeductiveClosure(...).expand(graph)``
(``ontology_manager.py:2853-2864``) — an in-memory rule loop.  Here each
rule is a join producing candidate triples; a round unions all rule
outputs, dedups, and subtracts the known set; the loop stops when a round
yields nothing new.  ``localCheckpoint`` per round truncates lineage.

Rule subset (covers the reference's test surface and the north-star
needs — subclass/subproperty transitivity, type propagation, domain/range
inference, inverse/symmetric/transitive properties, sameAs closure):

  rdfs5   (p subPropertyOf q), (q subPropertyOf r)   -> (p subPropertyOf r)
  rdfs7   (s p o), (p subPropertyOf q)               -> (s q o)
  rdfs9   (s type c), (c subClassOf d)               -> (s type d)
  rdfs11  (c subClassOf d), (d subClassOf e)         -> (c subClassOf e)
  rdfs2   (s p o), (p domain c)                      -> (s type c)
  rdfs3   (s p o:uri), (p range c)                   -> (o type c)
  prp-inv (s p o), (p inverseOf q)                   -> (o q s)
  prp-symp(s p o), (p type SymmetricProperty)        -> (o p s)
  prp-trp (s p o), (o p v), (p type TransitiveProperty) -> (s p v)
  eq-sym  (x sameAs y)                               -> (y sameAs x)
  eq-trans(x sameAs y), (y sameAs z)                 -> (x sameAs z)

owl-rl profile additionally (reference ``apply_reasoning(profile=
'owl-rl')``, ``ontology_manager.py:2859-2860``): cax-eqc1/2,
prp-eqp1/2, eq-rep-s/p/o substitution, and

  prp-fp  (p type FunctionalProperty), (x p y1), (x p y2) -> (y1 sameAs y2)
  prp-ifp (p type InverseFunctionalProperty), (x1 p y), (x2 p y)
                                                     -> (x1 sameAs x2)
  cls-hv1 (r onProperty p), (r hasValue v), (x type r) -> (x p v)
  cls-hv2 (r onProperty p), (r hasValue v), (x p v)    -> (x type r)

Scale notes: schema-level slices (subClassOf, subPropertyOf, domain,
range, property-characteristic sets) are tiny next to the instance data —
every rule join broadcasts the schema side, so one reasoning round over
N instance triples is a handful of broadcast joins + one distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import OWL, RDF, RDFS, TRIPLE_COLS


def _as_triples(df: DataFrame, kind: str = "uri") -> DataFrame:
    """(subj, pred, obj) -> full 6-col rows with uri object kind."""
    return df.select(
        "subj",
        "pred",
        "obj",
        F.lit(kind).alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_dt"),
    )


def _schema_flags(triples: DataFrame) -> dict:
    """Which schema constructs exist — see ``_schema_probe``."""
    return _schema_probe(triples)[1]


def _schema_probe(triples: DataFrame) -> tuple[int, dict]:
    """ONE tiny aggregation returning (row_count, schema_flags).

    The flags gate rule joins: each join below is built only when its
    (broadcast-side) schema slice is non-empty.  At fixture scale this
    halves the per-round DAG; at corpus scale it skips instance-wide
    joins that provably produce nothing.  Sound inside the fixpoint: a
    rule's schema slice can only become non-empty in a round that added
    triples, and the probe is recomputed every round.

    The count rides in the same aggregation because the fixpoint loop
    uses it as its convergence witness (the known set grows
    monotonically, so an unchanged count means no new triples) — one
    collect per round covers BOTH the convergence probe and the flag
    re-probe, where the earlier shape paid separate exceptAll +
    isEmpty + flags jobs."""

    def has(cond):
        return F.max(cond.cast("int"))

    is_type = F.col("pred") == RDF.type
    row = triples.select(
        F.count(F.lit(1)).alias("n_rows"),
        has(F.col("pred") == RDFS.subClassOf).alias("sub_class"),
        has(F.col("pred") == RDFS.subPropertyOf).alias("sub_prop"),
        has(F.col("pred") == RDFS.domain).alias("domain"),
        has(F.col("pred") == RDFS.range).alias("range"),
        has(F.col("pred") == OWL.inverseOf).alias("inverse"),
        has(is_type & (F.col("obj") == OWL.SymmetricProperty)).alias("symmetric"),
        has(is_type & (F.col("obj") == OWL.TransitiveProperty)).alias("transitive"),
        has(is_type & (F.col("obj") == OWL.FunctionalProperty)).alias("functional"),
        has(is_type & (F.col("obj") == OWL.InverseFunctionalProperty)).alias(
            "inv_functional"
        ),
        has(F.col("pred") == OWL.equivalentClass).alias("eq_cls"),
        has(F.col("pred") == OWL.equivalentProperty).alias("eq_prp"),
        has(F.col("pred") == OWL.onProperty).alias("onprop"),
        has(F.col("pred") == OWL.hasValue).alias("hasval"),
        has(F.col("pred") == OWL.sameAs).alias("sameas"),
        has(F.col("pred") == OWL.propertyChainAxiom).alias("chain"),
    ).collect()[0]
    d = row.asDict()
    n = int(d.pop("n_rows"))
    return n, {k: bool(v) for k, v in d.items()}


def _round(
    triples: DataFrame,
    with_equivalence: bool = False,
    flags: dict | None = None,
) -> DataFrame:
    """One application of every rule; returns candidate triples
    (may include already-known ones — caller subtracts).

    ``with_equivalence`` adds the OWL-RL equivalence/identity rules
    (cax-eqc1/2, prp-eqp1/2, prp-fp/ifp, cls-hv1/2) — the ``owl-rl``
    profile (reference ``apply_reasoning(profile='owl-rl')``,
    ``ontology_manager.py:2859-2860``).

    ``flags`` (see ``_schema_flags``) gates each rule join on its schema
    slice being non-empty, so a round only executes the joins that can
    fire.  When omitted, the probe runs here."""
    if flags is None:
        flags = _schema_flags(triples)
    types = triples.filter(F.col("pred") == RDF.type).select(
        F.col("subj").alias("s"), F.col("obj").alias("c")
    )
    assertions = triples.filter(
        ~F.col("pred").isin(RDF.type, RDFS.subClassOf, RDFS.subPropertyOf)
    ).select("subj", "pred", "obj", "obj_kind", "obj_lang", "obj_dt")

    out: list[DataFrame] = []

    if flags["sub_class"]:
        sub_class = triples.filter(F.col("pred") == RDFS.subClassOf).select(
            F.col("subj").alias("c"), F.col("obj").alias("d")
        )
        # rdfs11: subClassOf transitivity
        out.append(
            _as_triples(
                sub_class.alias("a")
                .join(
                    F.broadcast(sub_class.alias("b")),
                    F.col("a.d") == F.col("b.c"),
                )
                .select(
                    F.col("a.c").alias("subj"),
                    F.lit(RDFS.subClassOf).alias("pred"),
                    F.col("b.d").alias("obj"),
                )
            )
        )
        # rdfs9: type propagation up the hierarchy
        out.append(
            _as_triples(
                types.join(F.broadcast(sub_class), types["c"] == sub_class["c"])
                .select(
                    F.col("s").alias("subj"),
                    F.lit(RDF.type).alias("pred"),
                    F.col("d").alias("obj"),
                )
            )
        )
    if flags["sub_prop"]:
        sub_prop = triples.filter(F.col("pred") == RDFS.subPropertyOf).select(
            F.col("subj").alias("p"), F.col("obj").alias("q")
        )
        # rdfs5: subPropertyOf transitivity
        out.append(
            _as_triples(
                sub_prop.alias("a")
                .join(
                    F.broadcast(sub_prop.alias("b")),
                    F.col("a.q") == F.col("b.p"),
                )
                .select(
                    F.col("a.p").alias("subj"),
                    F.lit(RDFS.subPropertyOf).alias("pred"),
                    F.col("b.q").alias("obj"),
                )
            )
        )
        # rdfs7: assertion propagation up subPropertyOf (keeps term kind)
        out.append(
            assertions.join(
                F.broadcast(sub_prop), assertions["pred"] == sub_prop["p"]
            ).select(
                "subj", F.col("q").alias("pred"), "obj",
                "obj_kind", "obj_lang", "obj_dt",
            )
        )
    if flags["domain"]:
        domain = triples.filter(F.col("pred") == RDFS.domain).select(
            F.col("subj").alias("p"), F.col("obj").alias("c")
        )
        # rdfs2: domain -> subject type
        out.append(
            _as_triples(
                assertions.join(
                    F.broadcast(domain), assertions["pred"] == domain["p"]
                ).select(
                    F.col("subj"),
                    F.lit(RDF.type).alias("pred"),
                    F.col("c").alias("obj"),
                )
            )
        )
    if flags["range"]:
        range_ = triples.filter(F.col("pred") == RDFS.range).select(
            F.col("subj").alias("p"), F.col("obj").alias("c")
        )
        # rdfs3: range -> object type (URI objects only)
        out.append(
            _as_triples(
                assertions.filter(F.col("obj_kind") == "uri")
                .join(F.broadcast(range_), assertions["pred"] == range_["p"])
                .select(
                    F.col("obj").alias("subj"),
                    F.lit(RDF.type).alias("pred"),
                    F.col("c").alias("obj"),
                )
            )
        )
    if flags["inverse"]:
        inverse = triples.filter(F.col("pred") == OWL.inverseOf).select(
            F.col("subj").alias("p"), F.col("obj").alias("q")
        )
        # prp-inv
        out.append(
            _as_triples(
                assertions.filter(F.col("obj_kind") == "uri")
                .join(F.broadcast(inverse), assertions["pred"] == inverse["p"])
                .select(
                    F.col("obj").alias("subj"),
                    F.col("q").alias("pred"),
                    F.col("subj").alias("obj"),
                )
            )
        )
        out.append(
            _as_triples(
                assertions.filter(F.col("obj_kind") == "uri")
                .join(F.broadcast(inverse), assertions["pred"] == inverse["q"])
                .select(
                    F.col("obj").alias("subj"),
                    F.col("p").alias("pred"),
                    F.col("subj").alias("obj"),
                )
            )
        )
    if flags["symmetric"]:
        symmetric = triples.filter(
            (F.col("pred") == RDF.type) & (F.col("obj") == OWL.SymmetricProperty)
        ).select(F.col("subj").alias("p"))
        # prp-symp
        out.append(
            _as_triples(
                assertions.filter(F.col("obj_kind") == "uri")
                .join(
                    F.broadcast(symmetric), assertions["pred"] == symmetric["p"]
                )
                .select(
                    F.col("obj").alias("subj"),
                    F.col("pred"),
                    F.col("subj").alias("obj"),
                )
            )
        )
    if flags["transitive"]:
        transitive = triples.filter(
            (F.col("pred") == RDF.type)
            & (F.col("obj") == OWL.TransitiveProperty)
        ).select(F.col("subj").alias("p"))
        # prp-trp (self-join of transitive-property assertions)
        trans_edges = assertions.join(
            F.broadcast(transitive), assertions["pred"] == transitive["p"]
        ).select("subj", "pred", "obj")
        out.append(
            _as_triples(
                trans_edges.alias("a")
                .join(
                    trans_edges.alias("b"),
                    (F.col("a.obj") == F.col("b.subj"))
                    & (F.col("a.pred") == F.col("b.pred")),
                )
                .select(
                    F.col("a.subj").alias("subj"),
                    F.col("a.pred").alias("pred"),
                    F.col("b.obj").alias("obj"),
                )
            )
        )
    # NOTE: sameAs closure deliberately NOT a pairwise rule here — a
    # k-member clique would materialize k^2 intermediates in every
    # round.  ``apply_reasoning`` routes it through
    # ``fixpoint.connected_components`` (one O(log n) pass) instead.

    if with_equivalence and flags["eq_cls"]:
        eq_cls = triples.filter(F.col("pred") == OWL.equivalentClass).select(
            F.col("subj").alias("c"), F.col("obj").alias("d")
        )
        eq_cls = eq_cls.unionByName(
            eq_cls.select(F.col("d").alias("c"), F.col("c").alias("d"))
        ).distinct()
        # scm-eqc2 twin: symmetry of the declaration itself
        out.append(
            _as_triples(
                eq_cls.select(
                    F.col("c").alias("subj"),
                    F.lit(OWL.equivalentClass).alias("pred"),
                    F.col("d").alias("obj"),
                )
            )
        )
        # cax-eqc1/2: type propagation across equivalentClass
        out.append(
            _as_triples(
                types.join(F.broadcast(eq_cls), types["c"] == eq_cls["c"])
                .select(
                    F.col("s").alias("subj"),
                    F.lit(RDF.type).alias("pred"),
                    F.col("d").alias("obj"),
                )
            )
        )
    if with_equivalence and flags["eq_prp"]:
        eq_prp = triples.filter(F.col("pred") == OWL.equivalentProperty).select(
            F.col("subj").alias("p"), F.col("obj").alias("q")
        )
        eq_prp = eq_prp.unionByName(
            eq_prp.select(F.col("q").alias("p"), F.col("p").alias("q"))
        ).distinct()
        out.append(
            _as_triples(
                eq_prp.select(
                    F.col("p").alias("subj"),
                    F.lit(OWL.equivalentProperty).alias("pred"),
                    F.col("q").alias("obj"),
                )
            )
        )
        # prp-eqp1/2: assertion propagation across equivalentProperty
        out.append(
            assertions.join(F.broadcast(eq_prp), assertions["pred"] == eq_prp["p"])
            .select(
                "subj", F.col("q").alias("pred"), "obj",
                "obj_kind", "obj_lang", "obj_dt",
            )
        )
    if with_equivalence and flags["functional"]:
        # prp-fp: two objects of a functional property for one subject
        # are the same individual.  The self-join keys on (subj, pred) —
        # by definition of functionality the per-key group is tiny, so
        # the shuffle has bounded fan-out at any corpus size.  Only the
        # o1 < o2 direction is emitted; the CC-based sameAs pass closes
        # symmetry/transitivity without the k^2 pairwise blowup.
        functional = triples.filter(
            (F.col("pred") == RDF.type)
            & (F.col("obj") == OWL.FunctionalProperty)
        ).select(F.col("subj").alias("p"))
        fp_inst = (
            assertions.filter(F.col("obj_kind") == "uri")
            .join(F.broadcast(functional), assertions["pred"] == functional["p"])
            .select("subj", "pred", "obj")
        )
        out.append(
            _as_triples(
                fp_inst.alias("a")
                .join(
                    fp_inst.alias("b"),
                    (F.col("a.subj") == F.col("b.subj"))
                    & (F.col("a.pred") == F.col("b.pred"))
                    & (F.col("a.obj") < F.col("b.obj")),
                )
                .select(
                    F.col("a.obj").alias("subj"),
                    F.lit(OWL.sameAs).alias("pred"),
                    F.col("b.obj").alias("obj"),
                )
            )
        )
    if with_equivalence and flags["inv_functional"]:
        # prp-ifp: two subjects sharing a value of an inverse-functional
        # property are the same individual.  Keys on the full object
        # identity (value + kind + lang + datatype) so literal-keyed
        # identifiers (emails, ISBNs) match exactly.
        inv_functional = triples.filter(
            (F.col("pred") == RDF.type)
            & (F.col("obj") == OWL.InverseFunctionalProperty)
        ).select(F.col("subj").alias("p"))
        ifp_inst = (
            assertions.join(
                F.broadcast(inv_functional),
                assertions["pred"] == inv_functional["p"],
            )
            .select("subj", "pred", "obj", "obj_kind", "obj_lang", "obj_dt")
        )
        out.append(
            _as_triples(
                ifp_inst.alias("a")
                .join(
                    ifp_inst.alias("b"),
                    (F.col("a.pred") == F.col("b.pred"))
                    & (F.col("a.obj") == F.col("b.obj"))
                    & (F.col("a.obj_kind") == F.col("b.obj_kind"))
                    & F.col("a.obj_lang").eqNullSafe(F.col("b.obj_lang"))
                    & F.col("a.obj_dt").eqNullSafe(F.col("b.obj_dt"))
                    & (F.col("a.subj") < F.col("b.subj")),
                )
                .select(
                    F.col("a.subj").alias("subj"),
                    F.lit(OWL.sameAs).alias("pred"),
                    F.col("b.subj").alias("obj"),
                )
            )
        )
    if with_equivalence and flags["onprop"] and flags["hasval"]:
        # cls-hv1/2: hasValue restrictions.  hv = (restriction node r,
        # onProperty p, value v with full literal identity) — schema-side
        # tiny, broadcast.
        onprop = triples.filter(F.col("pred") == OWL.onProperty).select(
            F.col("subj").alias("r"), F.col("obj").alias("p")
        )
        hasval = triples.filter(F.col("pred") == OWL.hasValue).select(
            F.col("subj").alias("r2"),
            F.col("obj").alias("v"),
            F.col("obj_kind").alias("vk"),
            F.col("obj_lang").alias("vl"),
            F.col("obj_dt").alias("vd"),
        )
        hv = onprop.join(hasval, onprop["r"] == hasval["r2"]).select(
            "r", "p", "v", "vk", "vl", "vd"
        )
        # cls-hv1: (x type r) -> (x p v)
        out.append(
            types.join(F.broadcast(hv), types["c"] == hv["r"]).select(
                F.col("s").alias("subj"),
                F.col("p").alias("pred"),
                F.col("v").alias("obj"),
                F.col("vk").alias("obj_kind"),
                F.col("vl").alias("obj_lang"),
                F.col("vd").alias("obj_dt"),
            )
        )
        # cls-hv2: (x p v) -> (x type r)
        out.append(
            _as_triples(
                assertions.join(
                    F.broadcast(hv),
                    (assertions["pred"] == hv["p"])
                    & (assertions["obj"] == hv["v"])
                    & (assertions["obj_kind"] == hv["vk"])
                    & assertions["obj_lang"].eqNullSafe(hv["vl"])
                    & assertions["obj_dt"].eqNullSafe(hv["vd"]),
                ).select(
                    F.col("subj"),
                    F.lit(RDF.type).alias("pred"),
                    F.col("r").alias("obj"),
                )
            )
        )

    if not out:
        return triples.limit(0)
    candidates = out[0]
    for o in out[1:]:
        candidates = candidates.unionByName(o)
    return candidates.dropDuplicates(TRIPLE_COLS)


# --------------------------------------------------------------------------
# property-chain axioms (OWL-RL prp-spo2)
# --------------------------------------------------------------------------


def apply_property_chains(triples: DataFrame) -> DataFrame:
    """prp-spo2, one application: for every ``owl:propertyChainAxiom``
    (p, [p1 .. pk]) materialize p(x0, xk) wherever the edge
    composition p1 ∘ … ∘ pk connects x0 to xk; returns ONLY the new
    conclusions (existing p-edges subtracted).

    Chain *definitions* are schema — decoded from the rdf:first/rest
    spines and collected to the driver (bounded by ontology size, the
    same altitude at which every rule in ``_round`` broadcasts its
    schema slice).  The *composition* is fully distributed: one
    predicate-sliced scan per chain member, equi-joins hop to hop with
    a distinct after each (|pairs| not |paths| — ``query.eval_path``'s
    plan).  Reference surface: owlrl's prp-spo2 under
    ``apply_reasoning(profile='owl-rl')``, ``ontology_manager.py:
    2853-2864``."""
    from .lists import get_property_chains
    from .query import eval_path

    chains = get_property_chains(triples).collect()
    if not chains:
        return triples.select(*TRIPLE_COLS).limit(0)
    out = None
    for row in chains:
        pairs = eval_path(triples, list(row["chain"]))
        concl = pairs.select(
            F.col("src").alias("subj"),
            F.lit(row["property"]).alias("pred"),
            F.col("dst").alias("obj"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        )
        out = concl if out is None else out.unionByName(concl)
    return (
        out.dropDuplicates(TRIPLE_COLS)
        .join(
            triples.select("subj", "pred", "obj"),
            ["subj", "pred", "obj"],
            "left_anti",
        )
        .orderBy("subj", "pred", "obj")
    )


# --------------------------------------------------------------------------
# sameAs equality reasoning via connected components
# --------------------------------------------------------------------------


def sameas_components(triples: DataFrame) -> DataFrame:
    """(node, comp): sameAs cliques as connected components — the scale
    path for equality reasoning.  One CC pass is O(E log n) with
    pointer-jumping instead of the O(k^2)-per-clique pairwise closure
    (a hot web entity with millions of aliases detonates the latter)."""
    from .fixpoint import connected_components

    edges = triples.filter(F.col("pred") == OWL.sameAs).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return connected_components(edges)


def closure_from_components(cc: DataFrame, include_self: bool = False) -> DataFrame:
    """sameAs closure pairs from an already-computed (node, component)
    map — lets ``apply_reasoning`` share ONE CC pass between the closure
    and the eq-rep substitution instead of recomputing components."""
    a = cc.alias("a")
    b = cc.alias("b")
    pairs = a.join(b, F.col("a.component") == F.col("b.component"))
    if not include_self:
        pairs = pairs.filter(F.col("a.node") != F.col("b.node"))
    return _as_triples(
        pairs
        .select(
            F.col("a.node").alias("subj"),
            F.lit(OWL.sameAs).alias("pred"),
            F.col("b.node").alias("obj"),
        )
    )


def eq_rep(triples: DataFrame, cc: DataFrame) -> DataFrame:
    """owlrl eq-rep-s / eq-rep-p / eq-rep-o: copy every triple with each
    subject/predicate/object replaced by its sameAs siblings.  Joins the
    (node, comp) map — per-clique expansion, no global self-join."""
    sib = (
        cc.alias("a")
        .join(cc.alias("b"), F.col("a.component") == F.col("b.component"))
        .select(F.col("a.node").alias("node"), F.col("b.node").alias("twin"))
    )
    s_rep = (
        triples.join(sib, triples["subj"] == sib["node"])
        .select(
            F.col("twin").alias("subj"), "pred", "obj",
            "obj_kind", "obj_lang", "obj_dt",
        )
    )
    p_rep = (
        triples.join(sib, triples["pred"] == sib["node"])
        .select(
            "subj", F.col("twin").alias("pred"), "obj",
            "obj_kind", "obj_lang", "obj_dt",
        )
    )
    o_rep = (
        triples.filter(F.col("obj_kind") == "uri")
        .join(sib, triples["obj"] == sib["node"])
        .select(
            "subj", "pred", F.col("twin").alias("obj"),
            "obj_kind", "obj_lang", "obj_dt",
        )
    )
    return (
        s_rep.unionByName(p_rep).unionByName(o_rep)
        .dropDuplicates(TRIPLE_COLS)
    )


def apply_reasoning(
    triples: DataFrame, max_rounds: int = 20, profile: str = "rdfs"
) -> tuple[DataFrame, int]:
    """Expand to fixpoint; returns (expanded_triples, n_inferred) —
    matching the reference's ``apply_reasoning`` return contract
    (``ontology_manager.py:2853-2864``).

    Profiles (reference ``:2857-2862``):
      * ``rdfs``   — the rule set above + sameAs symmetric-transitive
        closure (via connected components, NOT a pairwise fixpoint);
      * ``owl-rl`` — adds equivalentClass/equivalentProperty rules and
        eq-rep-s/p/o sameAs substitution (owlrl's materialization).

    Structure: inner loop = broadcast-join rule rounds to fixpoint;
    then one CC pass handles ALL equality inference for the round; an
    outer loop re-enters the rules only if equality produced new facts
    (it can: a substituted triple may re-trigger e.g. rdfs2).

    Per-round driver cost is exactly TWO jobs — the checkpoint of the
    grown set and one combined count+flags aggregation
    (``_schema_probe``).  The known set grows monotonically under
    union, so an unchanged count is a complete convergence witness;
    this replaces the earlier exceptAll-the-candidates + isEmpty +
    separate flag probe (4 jobs/round).  The fixpoint loop is the only
    serial driver-side cost in the engine, so per-round latency is what
    Amdahl charges against scaled-up clusters.
    """
    with_eq = profile in ("owl-rl", "owl-rl-ext")
    current = triples.dropDuplicates(TRIPLE_COLS).localCheckpoint(eager=True)
    n, flags = _schema_probe(current)
    n0 = n
    for _outer in range(4):
        grew_inner = False
        for _ in range(max_rounds):
            grown = (
                current.unionByName(
                    _round(current, with_equivalence=with_eq, flags=flags)
                )
                .dropDuplicates(TRIPLE_COLS)
                .localCheckpoint(eager=True)
            )
            # one collect: convergence count + re-probed schema flags
            # (a round may derive new schema facts, e.g. a property
            # typed Functional via rdfs9)
            n2, flags = _schema_probe(grown)
            current = grown
            if n2 == n:
                break
            n = n2
            grew_inner = True
        # property chains (owl-rl prp-spo2): apply after the inner
        # fixpoint; a derived edge can re-trigger every rule family,
        # so new chain facts re-enter the rule loop via the outer
        # iteration instead of special-casing the inner one
        if with_eq and flags.get("chain"):
            new_chain = apply_property_chains(current)
            if not new_chain.isEmpty():
                current = (
                    current.unionByName(new_chain)
                    .dropDuplicates(TRIPLE_COLS)
                    .localCheckpoint(eager=True)
                )
                n, flags = _schema_probe(current)
                continue
        # equality reasoning: one CC pass per outer round (skipped
        # entirely when the graph asserts no sameAs — the common case
        # for pure-RDFS ontologies; the flag probe already covers it)
        if not flags["sameas"]:
            break
        # after the first eq pass, an inner loop that added nothing
        # means the graph is unchanged since that pass — equality is
        # already at fixpoint, so the would-be CC round is redundant
        if _outer > 0 and not grew_inner:
            break
        # include_self under owl-rl: eq-rep would derive the reflexive
        # pairs anyway on the NEXT outer round; emitting them with the
        # closure reaches the same fixpoint one outer round (and one CC
        # pass) earlier.  The component map is computed ONCE and shared
        # by the closure pairs and the eq-rep substitution.
        cc = sameas_components(current).localCheckpoint(eager=True)
        eq_new = closure_from_components(cc, include_self=with_eq)
        if with_eq:
            eq_new = eq_new.unionByName(eq_rep(current, cc))
        grown = (
            current.unionByName(eq_new)
            .dropDuplicates(TRIPLE_COLS)
            .localCheckpoint(eager=True)
        )
        # substitution can move schema facts onto new nodes — re-probe
        # (same single collect doubles as the convergence witness)
        n2, flags = _schema_probe(grown)
        current = grown
        if n2 == n:
            break
        n = n2
    return current, n - n0


def class_expression_membership(
    triples: DataFrame, arrays: DataFrame | None = None
) -> DataFrame:
    """(subj, cls, rule) — one round of the OWL RL class-expression
    membership rules over asserted ``rdf:type`` facts (W3C OWL 2 RL
    table 7, public spec; the reference's owl-rl closure covers these
    via rdflib saturation — ontology_manager.py:2853-2864):

      cls-int1  x type c1..cn for ALL members of (c intersectionOf
                (c1..cn))                      -> x type c
      cls-int2  x type c, c intersectionOf (..ci..)  -> x type ci
      cls-uni   x type ci for SOME member of (c unionOf (..ci..))
                                               -> x type c

    Already-asserted types are excluded (net-new inferences only); one
    synchronous round — compose with :func:`apply_reasoning` /
    re-apply to saturate (each round is a pure function of its input,
    the fixpoint convention).

    Plan: RDF lists decoded once (shared ``arrays`` pass), member
    tables are axiom-sized (broadcast side); cls-int1 is the only
    grouped stage — join typings to members on the type key, count
    distinct matched members per (x, c), keep counts equal to the
    member-list length.  All joins are broadcast-able (schema side is
    tiny vs the instance side), the aggregation is map-side
    combinable and keyed by (x, c) — no window, no driver
    materialization; instance-table scale-up leaves the plan shape
    unchanged."""
    from .lists import unroll_lists

    items = (
        arrays.select(
            "head", F.posexplode("items").alias("pos", "item")
        ).select("head", "item")
        if arrays is not None
        else unroll_lists(triples).select("head", "item")
    )
    types = (
        triples.filter(F.col("pred") == RDF.type)
        .select(F.col("subj").alias("x"), F.col("obj").alias("t"))
        .distinct()
    )

    def members(pred: str) -> DataFrame:
        return (
            triples.filter(F.col("pred") == pred)
            .select(F.col("subj").alias("c"), F.col("obj").alias("head"))
            .join(items, "head")
            .select("c", "item")
        )

    ints = members(OWL.intersectionOf).localCheckpoint(eager=True)
    unis = members(OWL.unionOf)
    icnt = ints.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    int1 = (
        ints.join(types, ints["item"] == types["t"])
        .groupBy("x", "c")
        .agg(F.count_distinct("item").alias("k"))
        .join(icnt, "c")
        .filter(F.col("k") == F.col("n"))
        .select("x", F.col("c").alias("cls"), F.lit("cls-int1").alias("rule"))
    )
    int2 = (
        types.join(ints, types["t"] == ints["c"])
        .select("x", F.col("item").alias("cls"), F.lit("cls-int2").alias("rule"))
    )
    uni = (
        unis.join(types, unis["item"] == types["t"])
        .select("x", F.col("c").alias("cls"), F.lit("cls-uni").alias("rule"))
    )
    inferred = int1.unionByName(int2).unionByName(uni).distinct()
    return (
        inferred.join(
            types,
            (inferred["x"] == types["x"]) & (inferred["cls"] == types["t"]),
            "left_anti",
        )
        .select(F.col("x").alias("subj"), "cls", "rule")
        .orderBy("subj", "cls", "rule")
    )


# ---------------------------------------------------------------------------
# SDType statistical type inference (Paulheim & Bizer, ISWC 2013,
# public literature).  Web-extracted entities are mostly UNTYPED —
# extraction produces facts long before anyone asserts rdf:type.
# SDType votes a type from the statistical type distribution of the
# predicates an entity uses: an entity with out:birthPlace and
# in:knows edges is a Person because typed entities with those
# predicates overwhelmingly are.
# ---------------------------------------------------------------------------


def sdtype_infer(
    triples: DataFrame,
    min_score: float = 0.4,
    exclude_types: tuple = (),
) -> DataFrame:
    """(entity, inferred_type, score, n_features) — top-1 type vote
    per currently-untyped entity.

    Features are directional predicates: ``out:<pred>`` when the
    entity is subject, ``in:<pred>`` when it is a URI object
    (rdf:type rows excluded from features).  From TYPED entities the
    conditional ``P(type | feature) = |typed entities with feature and
    type| / |typed entities with feature|`` is estimated; an untyped
    entity scores each type by the AVERAGE of its features'
    conditionals (features the type never co-occurred with vote 0 —
    the count divides by the entity's full feature count).  Top-1 by
    (score desc, type asc), kept when score >= ``min_score``.

    Scale shape: the conditional table is (feature, type)-keyed —
    schema-sized, broadcast; entity-feature extraction is two pushed
    projections; scoring is ONE equi-join on feature + one (entity,
    type) agg + one per-entity max_by — all map-side-combinable, no
    iteration."""
    types = (
        triples.filter(F.col("pred") == RDF.type)
        .select(F.col("subj").alias("entity"), F.col("obj").alias("type"))
        .distinct()
    )
    if exclude_types:
        types = types.filter(~F.col("type").isin(list(exclude_types)))
    feats = (
        triples.filter(F.col("pred") != RDF.type)
        .select(
            F.col("subj").alias("entity"),
            F.concat(F.lit("out:"), F.col("pred")).alias("feature"),
        )
        .union(
            triples.filter(
                (F.col("pred") != RDF.type) & (F.col("obj_kind") == "uri")
            ).select(
                F.col("obj").alias("entity"),
                F.concat(F.lit("in:"), F.col("pred")).alias("feature"),
            )
        )
        .distinct()
    )
    typed_feats = feats.join(types, "entity")
    ft = typed_feats.groupBy("feature", "type").agg(
        F.countDistinct("entity").alias("n_ft")
    )
    fcnt = typed_feats.groupBy("feature").agg(
        F.countDistinct("entity").alias("n_f")
    )
    cond = ft.join(fcnt, "feature").select(
        "feature", "type", (F.col("n_ft") / F.col("n_f").cast("double")).alias("p")
    )
    untyped = feats.join(
        triples.filter(F.col("pred") == RDF.type)
        .select(F.col("subj").alias("entity"))
        .distinct(),
        "entity",
        "left_anti",
    )
    nfeat = untyped.groupBy("entity").agg(F.count("*").alias("n_features"))
    votes = (
        untyped.join(F.broadcast(cond), "feature")
        .groupBy("entity", "type")
        .agg(F.sum("p").alias("sp"))
        .join(nfeat, "entity")
        .select(
            "entity",
            "type",
            (F.col("sp") / F.col("n_features").cast("double")).alias("score"),
            "n_features",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy(
        F.col("score").desc(), F.col("type").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("score") >= min_score))
        .select(
            "entity",
            F.col("type").alias("inferred_type"),
            "score",
            "n_features",
        )
        .orderBy("entity")
    )


def sdtype_infer_sql(
    triples_src: str = "triples",
    min_score: float = 0.4,
    exclude_types: tuple = (),
) -> str:
    """DuckDB twin — compose after a CTE defining ``triples``."""
    excl = ""
    if exclude_types:
        lst = ", ".join(f"'{t}'" for t in exclude_types)
        excl = f" AND obj NOT IN ({lst})"
    return f"""
etypes AS MATERIALIZED (
  SELECT DISTINCT subj AS entity, obj AS type FROM {triples_src}
  WHERE pred = '{RDF.type}'{excl}),
feats AS MATERIALIZED (
  SELECT DISTINCT entity, feature FROM (
    SELECT subj AS entity, 'out:' || pred AS feature FROM {triples_src}
    WHERE pred <> '{RDF.type}'
    UNION ALL
    SELECT obj, 'in:' || pred FROM {triples_src}
    WHERE pred <> '{RDF.type}' AND obj_kind = 'uri')),
tf AS (SELECT f.entity, f.feature, t.type
       FROM feats f JOIN etypes t USING (entity)),
ft AS (SELECT feature, type, count(DISTINCT entity)::BIGINT AS n_ft
       FROM tf GROUP BY 1, 2),
fcnt AS (SELECT feature, count(DISTINCT entity)::BIGINT AS n_f
         FROM tf GROUP BY 1),
cond AS (SELECT ft.feature, ft.type, ft.n_ft / fcnt.n_f::DOUBLE AS p
         FROM ft JOIN fcnt USING (feature)),
untyped AS (
  SELECT * FROM feats WHERE entity NOT IN (
    SELECT subj FROM {triples_src} WHERE pred = '{RDF.type}')),
nfeat AS (SELECT entity, count(*)::BIGINT AS n_features
          FROM untyped GROUP BY 1),
votes AS (
  SELECT u.entity, c.type, sum(c.p) / any_value(nf.n_features)::DOUBLE AS score,
         any_value(nf.n_features) AS n_features
  FROM untyped u JOIN cond c USING (feature)
  JOIN nfeat nf ON u.entity = nf.entity
  GROUP BY u.entity, c.type),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY entity
    ORDER BY score DESC, type ASC) AS rn FROM votes)
SELECT entity, type AS inferred_type, score, n_features
FROM ranked WHERE rn = 1 AND score >= {min_score}
ORDER BY entity"""
