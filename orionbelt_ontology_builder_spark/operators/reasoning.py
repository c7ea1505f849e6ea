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

Every join rule above is declared once, in the rule table ``_RULES``:
the schema gate(s) it joins against, whether it is owl-rl only, and its
builder (one of a few join shapes).  ``_grow`` derives its gate
observation from that table and ``_round`` applies each rule whose
gates are non-empty.  The sameAs rules (eq-sym/eq-trans, eq-rep-*) and
property chains (prp-spo2) run between rounds in ``apply_reasoning``.

Scale notes: schema-level slices (subClassOf, subPropertyOf, domain,
range, property-characteristic sets) are tiny next to the instance data —
every rule join broadcasts the schema side, so one reasoning round over
N instance triples is a handful of broadcast joins + one distinct.
"""

from __future__ import annotations

from functools import reduce
from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import OWL, RDF, RDFS, TRIPLE_COLS
from .fixpoint import checkpoint_observed, connected_components


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


# --------------------------------------------------------------------------
# rule table
# --------------------------------------------------------------------------
#
# A gate names the schema slice a rule joins against: ``(pred, None)`` is
# the triples with that predicate, ``(rdf:type, X)`` the resources typed
# X.  A builder takes the round's views (``_round``) and one slice per
# gate, projected to a = subject, b = object (+ b's term kind, language
# and datatype), and returns candidate triples.


def _gate_cond(gate: tuple):
    pred, obj = gate
    cond = F.col("pred") == pred
    return cond if obj is None else cond & (F.col("obj") == obj)


def _slice(triples: DataFrame, gate: tuple) -> DataFrame:
    return triples.filter(_gate_cond(gate)).select(
        F.col("subj").alias("a"),
        F.col("obj").alias("b"),
        F.col("obj_kind").alias("b_kind"),
        F.col("obj_lang").alias("b_lang"),
        F.col("obj_dt").alias("b_dt"),
    )


def _on_pred(src: DataFrame, s: DataFrame, key: str = "a") -> DataFrame:
    """``src`` rows whose predicate is in the slice's ``key`` column."""
    return src.join(F.broadcast(s), src["pred"] == s[key])


def _chain(pred: str):
    """rdfs5 / rdfs11: (x pred y), (y pred z) -> (x pred z)."""

    def build(v, s):
        return _as_triples(
            s.alias("x")
            .join(F.broadcast(s.alias("y")), F.col("x.b") == F.col("y.a"))
            .select(
                F.col("x.a").alias("subj"),
                F.lit(pred).alias("pred"),
                F.col("y.b").alias("obj"),
            )
        )

    return build


def _retype(v, s):
    """rdfs9 / cax-eqc: (x type a), (a, b) in slice -> (x type b)."""
    return _as_triples(
        v.types.join(F.broadcast(s), v.types["c"] == s["a"]).select(
            F.col("x").alias("subj"),
            F.lit(RDF.type).alias("pred"),
            F.col("b").alias("obj"),
        )
    )


def _repred(v, s):
    """rdfs7 / prp-eqp: (x a y), (a, b) in slice -> (x b y), keeping the
    object's term kind."""
    return _on_pred(v.assertions, s).select(
        "subj", F.col("b").alias("pred"), "obj", "obj_kind", "obj_lang", "obj_dt"
    )


def _typing(end: str):
    """rdfs2 (``end="subj"``) / rdfs3 (``end="obj"``, URI objects only):
    (x p y), (p domain|range c) -> (end type c)."""

    def build(v, s):
        src = v.assertions if end == "subj" else v.uri
        return _as_triples(
            _on_pred(src, s).select(
                F.col(end).alias("subj"),
                F.lit(RDF.type).alias("pred"),
                F.col("b").alias("obj"),
            )
        )

    return build


def _swap(key: str, pred: str):
    """prp-inv1/2, prp-symp: (x p y:uri) with p in the slice's ``key``
    column -> (y <column pred> x)."""

    def build(v, s):
        return _as_triples(
            _on_pred(v.uri, s, key).select(
                F.col("obj").alias("subj"),
                F.col(pred).alias("pred"),
                F.col("subj").alias("obj"),
            )
        )

    return build


def _equivalence(pred: str, propagate):
    """cax-eqc1/2, prp-eqp1/2: the declaration both ways (scm-eqc2 /
    scm-eqp2 twin), and ``propagate`` along the symmetric pairs."""

    def build(v, s):
        both = (
            s.select("a", "b")
            .unionByName(s.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )
        decl = both.select(
            F.col("a").alias("subj"), F.lit(pred).alias("pred"), F.col("b").alias("obj")
        )
        return _as_triples(decl).unionByName(propagate(v, both))

    return build


def _prp_trp(v, s):
    """prp-trp: self-join of transitive-property assertions."""
    edges = _on_pred(v.assertions, s).select("subj", "pred", "obj")
    return _as_triples(
        edges.alias("x")
        .join(
            edges.alias("y"),
            (F.col("x.obj") == F.col("y.subj")) & (F.col("x.pred") == F.col("y.pred")),
        )
        .select(
            F.col("x.subj").alias("subj"),
            F.col("x.pred").alias("pred"),
            F.col("y.obj").alias("obj"),
        )
    )


def _prp_fp(v, s):
    """prp-fp: two objects of a functional property for one subject are
    the same individual.  The self-join keys on (subj, pred) — by
    definition of functionality the per-key group is tiny, so the
    shuffle has bounded fan-out at any corpus size.  Only the o1 < o2
    direction is emitted; the CC-based sameAs pass closes
    symmetry/transitivity without the k^2 pairwise blowup."""
    inst = _on_pred(v.uri, s).select("subj", "pred", "obj")
    return _as_triples(
        inst.alias("x")
        .join(
            inst.alias("y"),
            (F.col("x.subj") == F.col("y.subj"))
            & (F.col("x.pred") == F.col("y.pred"))
            & (F.col("x.obj") < F.col("y.obj")),
        )
        .select(
            F.col("x.obj").alias("subj"),
            F.lit(OWL.sameAs).alias("pred"),
            F.col("y.obj").alias("obj"),
        )
    )


def _prp_ifp(v, s):
    """prp-ifp: two subjects sharing a value of an inverse-functional
    property are the same individual.  Keys on the full object identity
    (value + kind + lang + datatype) so literal-keyed identifiers
    (emails, ISBNs) match exactly."""
    inst = _on_pred(v.assertions, s).select(*TRIPLE_COLS)
    return _as_triples(
        inst.alias("x")
        .join(
            inst.alias("y"),
            (F.col("x.pred") == F.col("y.pred"))
            & (F.col("x.obj") == F.col("y.obj"))
            & (F.col("x.obj_kind") == F.col("y.obj_kind"))
            & F.col("x.obj_lang").eqNullSafe(F.col("y.obj_lang"))
            & F.col("x.obj_dt").eqNullSafe(F.col("y.obj_dt"))
            & (F.col("x.subj") < F.col("y.subj")),
        )
        .select(
            F.col("x.subj").alias("subj"),
            F.lit(OWL.sameAs).alias("pred"),
            F.col("y.subj").alias("obj"),
        )
    )


def _cls_hv(v, on_prop, has_val):
    """cls-hv1/2: hasValue restrictions.  hv = (restriction node r,
    onProperty p, value v with full literal identity) — schema-side
    tiny, broadcast.  cls-hv1: (x type r) -> (x p v); cls-hv2:
    (x p v) -> (x type r)."""
    hv = (
        on_prop.alias("o")
        .join(has_val.alias("h"), F.col("o.a") == F.col("h.a"))
        .select(
            F.col("o.a").alias("r"),
            F.col("o.b").alias("p"),
            F.col("h.b").alias("v"),
            F.col("h.b_kind").alias("vk"),
            F.col("h.b_lang").alias("vl"),
            F.col("h.b_dt").alias("vd"),
        )
    )
    hv1 = v.types.join(F.broadcast(hv), v.types["c"] == hv["r"]).select(
        F.col("x").alias("subj"),
        F.col("p").alias("pred"),
        F.col("v").alias("obj"),
        F.col("vk").alias("obj_kind"),
        F.col("vl").alias("obj_lang"),
        F.col("vd").alias("obj_dt"),
    )
    a = v.assertions
    hv2 = a.join(
        F.broadcast(hv),
        (a["pred"] == hv["p"])
        & (a["obj"] == hv["v"])
        & (a["obj_kind"] == hv["vk"])
        & a["obj_lang"].eqNullSafe(hv["vl"])
        & a["obj_dt"].eqNullSafe(hv["vd"]),
    ).select("subj", F.lit(RDF.type).alias("pred"), F.col("r").alias("obj"))
    return hv1.unionByName(_as_triples(hv2))


#: (gates, owl-rl only, builder) — one entry per rule, in round order.
_RULES = (
    ([(RDFS.subClassOf, None)], False, _chain(RDFS.subClassOf)),  # rdfs11
    ([(RDFS.subClassOf, None)], False, _retype),  # rdfs9
    ([(RDFS.subPropertyOf, None)], False, _chain(RDFS.subPropertyOf)),  # rdfs5
    ([(RDFS.subPropertyOf, None)], False, _repred),  # rdfs7
    ([(RDFS.domain, None)], False, _typing("subj")),  # rdfs2
    ([(RDFS.range, None)], False, _typing("obj")),  # rdfs3
    ([(OWL.inverseOf, None)], False, _swap("a", "b")),  # prp-inv1
    ([(OWL.inverseOf, None)], False, _swap("b", "a")),  # prp-inv2
    ([(RDF.type, OWL.SymmetricProperty)], False, _swap("a", "pred")),  # prp-symp
    ([(RDF.type, OWL.TransitiveProperty)], False, _prp_trp),
    ([(OWL.equivalentClass, None)], True, _equivalence(OWL.equivalentClass, _retype)),
    (
        [(OWL.equivalentProperty, None)],
        True,
        _equivalence(OWL.equivalentProperty, _repred),
    ),
    ([(RDF.type, OWL.FunctionalProperty)], True, _prp_fp),
    ([(RDF.type, OWL.InverseFunctionalProperty)], True, _prp_ifp),
    ([(OWL.onProperty, None), (OWL.hasValue, None)], True, _cls_hv),
)
# gates the fixpoint loop reads: the sameAs (CC) pass and property chains
_SAME_AS = (OWL.sameAs, None)
_CHAIN = (OWL.propertyChainAxiom, None)
_GATES = tuple(
    dict.fromkeys([g for gates, _, _ in _RULES for g in gates] + [_SAME_AS, _CHAIN])
)


def _round(triples: DataFrame, with_equivalence: bool, flags: dict) -> DataFrame:
    """One application of every rule in ``_RULES`` whose gates are all
    non-empty in ``flags`` (``_grow``); returns candidate
    triples (may include already-known ones — caller subtracts).

    ``with_equivalence`` adds the owl-rl only rules (cax-eqc1/2,
    prp-eqp1/2, prp-fp/ifp, cls-hv1/2) — the ``owl-rl`` profile
    (reference ``apply_reasoning(profile='owl-rl')``,
    ``ontology_manager.py:2859-2860``).

    sameAs closure is deliberately NOT a pairwise rule here — a
    k-member clique would materialize k^2 intermediates in every round.
    ``apply_reasoning`` routes it through ``fixpoint.connected_components``
    (one O(log n) pass) instead."""
    v = SimpleNamespace(
        types=triples.filter(F.col("pred") == RDF.type).select(
            F.col("subj").alias("x"), F.col("obj").alias("c")
        ),
        assertions=triples.filter(
            ~F.col("pred").isin(RDF.type, RDFS.subClassOf, RDFS.subPropertyOf)
        ).select(*TRIPLE_COLS),
    )
    v.uri = v.assertions.filter(F.col("obj_kind") == "uri")
    slices = {g: _slice(triples, g) for g, on in flags.items() if on}
    out = [
        build(v, *[slices[g] for g in gates])
        for gates, owl_rl_only, build in _RULES
        if (with_equivalence or not owl_rl_only) and all(flags[g] for g in gates)
    ]
    if not out:
        return triples.limit(0)
    return reduce(DataFrame.unionByName, out).dropDuplicates(TRIPLE_COLS)


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
    edges = triples.filter(F.col("pred") == OWL.sameAs).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return connected_components(edges)


def eq_rep(triples: DataFrame, sib: DataFrame) -> DataFrame:
    """owlrl eq-rep-s / eq-rep-p / eq-rep-o: copy every triple with each
    subject/predicate/object replaced by its sameAs siblings.  ``sib`` is
    the (node, twin) sibling pairs of the (node, component) map —
    per-clique expansion, no global self-join."""
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


def _grow(*parts: DataFrame) -> tuple[DataFrame, int, dict]:
    """The known set grown by ``parts``: union, dedup and checkpoint it;
    returns (grown, row_count, {gate: non-empty}), both observed on the
    checkpoint job itself.  A rule join is built only when its
    broadcast-side schema slice (its gate in ``_GATES``) is non-empty,
    which skips joins that provably produce nothing.  Sound inside the
    fixpoint: a slice can only fill in a round that added triples, and
    every grow re-reads the gates."""
    grown, m = checkpoint_observed(
        reduce(DataFrame.unionByName, parts).dropDuplicates(TRIPLE_COLS),
        n=F.count(F.lit(1)),
        **{f"g{i}": F.max(_gate_cond(g).cast("int")) for i, g in enumerate(_GATES)},
    )
    return grown, m["n"], {g: bool(m[f"g{i}"]) for i, g in enumerate(_GATES)}


_PROFILES = ("rdfs", "owl-rl", "owl-rl-ext")


def apply_reasoning(
    triples: DataFrame, max_rounds: int = 20, profile: str = "rdfs"
) -> tuple[DataFrame, int]:
    """Expand to fixpoint; returns (expanded_triples, n_inferred) —
    matching the reference's ``apply_reasoning`` return contract
    (``ontology_manager.py:2853-2864``).

    Profiles (reference ``:2857-2862``; anything else is a ValueError):
      * ``rdfs``   — the rule set above + sameAs symmetric-transitive
        closure (via connected components, NOT a pairwise fixpoint);
      * ``owl-rl`` / ``owl-rl-ext`` — adds equivalentClass/
        equivalentProperty, prp-fp/ifp, cls-hv and property-chain rules
        and eq-rep-s/p/o sameAs substitution (owlrl's materialization).

    Structure: inner loop = broadcast-join rule rounds to fixpoint;
    then one CC pass handles ALL equality inference for the round; an
    outer loop re-enters the rules only if equality produced new facts
    (it can: a substituted triple may re-trigger e.g. rdfs2).

    Each round is one driver action, the checkpoint of the grown set
    (``_grow``), whose job also observes the set's row count and the
    rule gates.  The known set grows monotonically under union, so an
    unchanged count is a complete convergence witness.  The fixpoint
    loop is the only serial driver-side cost in the engine, so
    per-round latency is what Amdahl charges against scaled-up clusters.
    """
    if profile not in _PROFILES:
        raise ValueError(f"unknown profile {profile!r}; expected one of {_PROFILES}")
    with_eq = profile != "rdfs"
    current, n, flags = _grow(triples)
    n0 = n
    for _outer in range(4):
        grew_inner = False
        for _ in range(max_rounds):
            # the probe re-reads the gates every round (a round may
            # derive new schema facts, e.g. a property typed Functional
            # via rdfs9)
            current, n2, flags = _grow(current, _round(current, with_eq, flags))
            if n2 == n:
                break
            n = n2
            grew_inner = True
        # property chains (owl-rl prp-spo2): apply after the inner
        # fixpoint; a derived edge can re-trigger every rule family,
        # so new chain facts re-enter the rule loop via the outer
        # iteration instead of special-casing the inner one
        if with_eq and flags[_CHAIN]:
            current, n2, flags = _grow(current, apply_property_chains(current))
            if n2 != n:
                n = n2
                continue
        # equality reasoning: one CC pass per outer round (skipped
        # entirely when the graph asserts no sameAs — the common case
        # for pure-RDFS ontologies; the gate probe already covers it)
        if not flags[_SAME_AS]:
            break
        # after the first eq pass, an inner loop that added nothing
        # means the graph is unchanged since that pass — equality is
        # already at fixpoint, so the would-be CC round is redundant
        if _outer > 0 and not grew_inner:
            break
        # The component map is computed ONCE and its sibling pairs feed
        # both the closure and the eq-rep substitution.  Self pairs stay
        # under owl-rl: eq-rep would derive the reflexive pairs anyway on
        # the NEXT outer round; emitting them with the closure reaches
        # the same fixpoint one outer round (and one CC pass) earlier.
        cc = sameas_components(current)  # already a checkpoint
        sib = (
            cc.alias("a")
            .join(cc.alias("b"), F.col("a.component") == F.col("b.component"))
            .select(F.col("a.node").alias("node"), F.col("b.node").alias("twin"))
        )
        pairs = sib if with_eq else sib.filter(F.col("node") != F.col("twin"))
        eq_new = _as_triples(
            pairs.select(
                F.col("node").alias("subj"),
                F.lit(OWL.sameAs).alias("pred"),
                F.col("twin").alias("obj"),
            )
        )
        if with_eq:
            eq_new = eq_new.unionByName(eq_rep(current, sib))
        # substitution can move schema facts onto new nodes — the probe
        # in ``_grow`` re-reads the gates
        current, n2, flags = _grow(current, eq_new)
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
