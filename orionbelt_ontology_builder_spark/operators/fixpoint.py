"""Driver-side fixpoint controller (SURVEY.md §2.9, M4).

Each round of an engine loop is one eager ``localCheckpoint`` whose own
job also reports the round's convergence metrics (:func:`checkpoint_observed`,
no separate probe job); :func:`converge` loops it until a round changes no
row.  The checkpoint truncates lineage so plans stay bounded across rounds
(without it the logical plan doubles per iteration and Catalyst analysis
time blows up long before the data does).

Instantiated for:
  * transitive closure of an edge set (reference ``_expand_superclasses``
    BFS, ``ontology_manager.py:2773-2785``) — doubling variant,
    O(log depth) rounds;
  * connected components (alternating large-star/small-star, after
    Kiveris et al. "Connected Components in MapReduce and Beyond") for
    ``owl:sameAs`` / ``skos:exactMatch`` canonicalization — the reference
    gets this implicitly from owlrl's in-memory sameAs chains
    (``ontology_manager.py:2853-2864``);
  * SKOS first-broader cycle detection (``ontology_manager.py:1684-1715``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

#: :func:`converge`'s round cap; the loops here take O(log n) rounds
MAX_ROUNDS = 50


def checkpoint_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` eagerly local-checkpointed, and the aggregate ``metrics``
    (name -> aggregate column) over its rows, read from the same job.

    Pass ``df`` after its last shuffle: the metrics then run in the
    result stage, where Spark merges each partition's accumulator update
    once, so counts are exact.  Over no rows ``sum``/``max`` read None."""
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    return out.localCheckpoint(eager=True), obs.get


def converge(
    state: DataFrame,
    step: Callable[[DataFrame], tuple[DataFrame, Column]],
    max_rounds: int = MAX_ROUNDS,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` until a round changes no row, or for
    ``max_rounds`` rounds; returns (state, converged).

    ``step`` returns the next state and a boolean column flagging its
    changed rows; each round's :func:`checkpoint_observed` job sums the
    flags (None: no rows, converged).  A changed-row sum, unlike a count
    comparison, cannot stop the loop early if a stage is recomputed."""
    for _ in range(max_rounds):
        nxt, changed = step(state)
        state, m = checkpoint_observed(nxt, changed=F.sum(changed.cast("int")))
        if not m["changed"]:
            return state, True
    return state, False


def union_new(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> tuple[DataFrame, Column]:
    """``old`` grown by ``new``, deduplicated on ``keys``, with the flag
    of the rows ``old`` lacked — a monotone round's union + distinct
    and its convergence flag in one shuffle (adds column ``known``)."""
    grown = (
        old.select(*keys, F.lit(True).alias("known"))
        .unionByName(new.select(*keys, F.lit(False).alias("known")))
        .groupBy(*keys)
        .agg(F.max("known").alias("known"))
    )
    return grown, ~F.col("known")


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """All (src, dst) pairs reachable via 1+ hops.

    Doubling variant: each round joins the closure with itself, so depth-D
    graphs converge in O(log D) rounds — at web scale that is the
    difference between 3 and 40 shuffles for a depth-20 hierarchy.

    Per-round cost is ONE shuffle (:func:`union_new`'s) and one driver
    action, the checkpoint, which also counts the new pairs.
    """

    def step(closure: DataFrame) -> tuple[DataFrame, Column]:
        grown = (
            closure.alias("a")
            .join(closure.alias("b"), F.col(f"a.{dst}") == F.col(f"b.{src}"))
            .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
        )
        return union_new(closure, grown, [src, dst])

    closure = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    closure, _ = converge(closure, step)
    return closure.select(src, dst)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_clean_pairs: bool = False,
) -> DataFrame:
    """Undirected connected components; returns (node, component) with
    component = min member id (string ordering).

    Alternating large-star / small-star iterative joins (Kiveris et al.,
    KDD'14) expressed in pure DataFrame algebra.  Converges in O(log n)
    rounds; per-round cost is one groupBy per direction.  This is the
    canonicalization engine for sameAs/exactMatch alias merging
    (BASELINE.json north_star).

    ``assume_clean_pairs``: caller guarantees the input is already
    distinct with ``src < dst`` strictly (the LSH-verify contract —
    ``linking.lsh_candidate_pairs`` emits exactly that) so the
    symmetrized table needs no dedup/self-loop shuffle + checkpoint.
    """
    # symmetrize; parent[v] initialized to min(neighbor ∪ self).
    # ``both`` emits each input row in both directions from ONE scan
    # (explode, not a union of two projections — a union reads its
    # input once per branch) and is checkpointed FIRST, so the input
    # lineage (often an expensive LSH-verify pipeline) executes exactly
    # once.  sym is re-joined EVERY round, hence its own checkpoint.
    both = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    if assume_clean_pairs:
        sym = both  # already distinct, self-loop-free, both directions
    else:
        sym = (
            both.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    # init = min over (self ∪ neighbors) as ONE aggregation over ``both``
    # — every node appears as ``u`` (both directions present; self-loops
    # keep singleton nodes), so least(node, min(v)) needs no self-pairs
    # union (half the init shuffle volume).  Dups/self-loops in the
    # not-clean case don't affect a min.
    parent = (
        both.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("mv"))
        .select("node", F.least(F.col("node"), F.col("mv")).alias("comp"))
        .localCheckpoint(eager=True)
    )

    def step(parent: DataFrame) -> tuple[DataFrame, Column]:
        parent = parent.select("node", "comp")
        # propagate: comp[v] = min(comp[v], min over neighbors u of comp[u])
        nbr_min = (
            sym.join(parent.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_parent = (
            parent.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("prev_comp"),
            )
        )
        # pointer jumping: comp[v] = comp[comp[v]] (halves chain length).
        # prev_comp rides along so the changed flag is a column of the
        # checkpointed round, not another join.
        jumped = (
            new_parent.alias("a")
            .join(
                parent.select(
                    F.col("node").alias("comp"), F.col("comp").alias("comp2")
                ).alias("b"),
                "comp",
                "left",
            )
            .select(
                F.col("node"),
                F.least(F.col("comp"), F.coalesce("comp2", F.col("comp"))).alias(
                    "comp"
                ),
                F.col("a.prev_comp"),
            )
        )
        return jumped, F.col("comp") != F.col("prev_comp")

    parent, _ = converge(parent, step)
    return parent.select("node", F.col("comp").alias("component"))


def expand_superclasses(triples: DataFrame, subclass_pred: str) -> DataFrame:
    """(cls, ancestor) transitive-closure table of ``rdfs:subClassOf``
    including self (the reference's BFS seeds include the start set,
    ``ontology_manager.py:2773-2785``)."""
    edges = triples.filter(F.col("pred") == subclass_pred).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    closure = transitive_closure(edges)
    nodes = (
        edges.select(F.col("src").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    self_pairs = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
    return (
        closure.unionByName(self_pairs)
        .distinct()
        .select(F.col("src").alias("cls"), F.col("dst").alias("ancestor"))
    )


def detect_broader_cycles(triples: DataFrame, broader_pred: str) -> DataFrame:
    """SKOS broader-cycle detection (reference ``:1684-1715``).

    Reference quirk reproduced: the walk follows only the FIRST broader
    edge per concept (``ontology_manager.py:1699``); we pin "first" to
    ``min(obj)`` (documented divergence — deterministic).  With
    out-degree ≤ 1 the walk graph is a functional graph; a concept is on
    a cycle iff its closure over the restricted edge set contains itself.
    """
    first_broader = (
        triples.filter(F.col("pred") == broader_pred)
        .groupBy("subj")
        .agg(F.min("obj").alias("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    closure = transitive_closure(first_broader)
    return (
        closure.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("concept"))
        .distinct()
        .orderBy("concept")
    )


def incremental_components(cc_map: DataFrame, delta_edges: DataFrame) -> DataFrame:
    """Maintain a connected-components labelling under NEW edges
    without recomputing over the full edge set — the O(delta) nightly
    refresh of the sameAs canonicalization map (a crawl's incremental
    alias discoveries must not trigger an O(corpus) CC rerun).

    The trick: an existing labelling IS a spanning forest — the
    (node -> component) map edges reconnect every old component — so
    running CC over ``map_edges UNION delta_edges`` reproduces the FULL
    recompute's labels exactly (component label = min member id, which
    is stable under this substitution because every old member remains
    reachable from its old label node).  Input size is
    O(nodes + delta), never O(total edges).

    Law (tested): ``incremental_components(cc(E), D) == cc(E UNION D)``
    row-for-row."""
    map_edges = cc_map.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    singletons = cc_map.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("src"), F.col("node").alias("dst")
    )
    u = map_edges.unionByName(
        delta_edges.select(
            F.col(delta_edges.columns[0]).alias("src"),
            F.col(delta_edges.columns[1]).alias("dst"),
        )
    ).unionByName(singletons)
    return connected_components(u)


def resolve_pointers(links: DataFrame, max_rounds: int = 6) -> DataFrame:
    """(node, terminal, hops) — resolve every node's chain through a
    FUNCTIONAL edge set (``links(node, nxt)``, at most one out-pointer
    per node) to its terminal by pointer doubling: round k composes
    the map with itself, so chains of length up to 2^max_rounds
    resolve in ``max_rounds`` self-joins — the redirect-chain /
    rel=canonical / symlink resolver (and the path-compression half of
    union-find) for crawl frontier canonicalization.

    Each round: ONE equi-self-join on the pointer key (terminal rows
    fall out of the build side and keep their current target via the
    left join's coalesce).  O(log chain-length) shuffles — the
    one-hop-per-round walk a naive iterator pays is O(chain-length).
    Cycles never terminate a chain; the fixed round cap keeps the
    output deterministic (a cycle member reports whatever node its
    2^max_rounds-step landing is), documented engine contract."""
    m = links.select("node", "nxt").withColumn("hops", F.lit(1).cast("long"))
    for _ in range(max_rounds):
        b = m.select(
            F.col("node").alias("b_node"),
            F.col("nxt").alias("b_nxt"),
            F.col("hops").alias("b_hops"),
        )
        m = (
            m.join(b, m["nxt"] == b["b_node"], "left")
            .select(
                "node",
                F.coalesce("b_nxt", "nxt").alias("nxt"),
                (
                    F.col("hops") + F.coalesce("b_hops", F.lit(0))
                ).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
    return m.select(
        "node", F.col("nxt").alias("terminal"), "hops"
    ).orderBy("node")


def resolve_pointers_sql(links_cte: str, max_rounds: int = 6) -> str:
    """DuckDB twin: recursive one-hop walk (acyclic input), the
    max-hops row per node == the doubling result.  ``links_cte``
    defines ``links(node, nxt)``."""
    return f"""
WITH RECURSIVE {links_cte.strip()},
walk(node, cur, hops) AS (
  SELECT node, nxt, 1 FROM links
  UNION ALL
  SELECT w.node, l.nxt, w.hops + 1
  FROM walk w JOIN links l ON w.cur = l.node
  WHERE w.hops < {2 ** max_rounds}),
best AS (
  SELECT node,
    (max(struct_pack(hops := hops, cur := cur))).cur AS terminal,
    max(hops)::BIGINT AS hops
  FROM walk GROUP BY node)
SELECT node, terminal, hops FROM best ORDER BY node
"""


def incremental_closure(
    closure: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Maintain a transitive closure under NEW edges without re-closing
    the full graph — the semi-naive refresh for subClassOf /
    subPropertyOf / transitive-property materializations when a crawl
    delta grafts new hierarchy in (a full :func:`transitive_closure`
    rerun is O(corpus) per night; this is O(delta-affected paths)).

    Every new reachability pair uses >= 1 delta edge, and any such path
    factors as a product of "delta steps" B = Δ ∪ C∘Δ ∪ Δ∘C ∪ C∘Δ∘C
    (closed segments between delta edges collapse into C because C is
    already transitively closed).  So the new closure is
    C ∪ B ∪ B∘B ∪ ... — a fixpoint where EVERY join has the
    delta-derived side (B) small, hence broadcast: the old closure is
    never self-joined.  Rounds needed = max number of delta edges on
    one path (1-2 for typical deltas), not graph depth.

    Law (tested): ``incremental_closure(tc(E), D) == tc(E UNION D)``
    row-for-row."""
    C = closure.select(src, dst).distinct().localCheckpoint(eager=True)
    D = delta_edges.select(src, dst).distinct()

    def compose(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.alias("a")
            .join(
                F.broadcast(b.alias("b")),
                F.col(f"a.{dst}") == F.col(f"b.{src}"),
            )
            .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
        )

    cd = compose(C, D)
    dc = (
        F.broadcast(D.alias("a"))
        .join(C.alias("b"), F.col(f"a.{dst}") == F.col(f"b.{src}"))
        .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
    )
    cdc = (
        cd.alias("a")
        .join(C.alias("b"), F.col(f"a.{dst}") == F.col(f"b.{src}"))
        .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
    )
    b_steps = (
        D.unionByName(cd)
        .unionByName(dc)
        .unionByName(cdc)
        .distinct()
        .localCheckpoint(eager=True)
    )
    total = C.unionByName(b_steps).distinct().localCheckpoint(eager=True)
    total, _ = converge(
        total, lambda t: union_new(t, compose(t, b_steps), [src, dst])
    )
    return total.select(src, dst).orderBy(src, dst)
