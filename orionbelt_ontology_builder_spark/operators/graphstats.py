"""Graph analytics over KG edge tables: degree statistics, PageRank
entity salience, triangle counting.

Why these live in a KG-construction engine: after canonicalization the
pipeline materializes an edge table partitioned by subject hash with
explicit hot-entity salting (``pipeline/materialize.py``) — **degree
statistics are what calibrate that hot threshold**; **PageRank** is the
standard entity-salience signal for ranking canonical entities (which
alias cluster becomes the preferred label, which entities survive a
corpus prune); **triangle counting** is the classic relationship-
density/quality probe for extracted graphs (a triple extractor that
hallucinates edges shows up as anomalous closure rates).

All three are pure DataFrame algebra over a generic ``(src, dst)`` edge
table:

* ``degree_stats`` — two grouped aggregations + one outer merge, all
  map-side-partial; one summary row per node type.
* ``pagerank`` — the canonical iterative DataFrame implementation:
  per-iteration contribution join + groupBy(dst) sum, dangling mass
  folded back as a broadcast scalar (computed lazily as a 1-row frame,
  never ``.collect()``-ed), ``localCheckpoint`` per round to truncate
  lineage.  D iterations = D joins + D shuffles — the textbook plan;
  at cluster scale the edge table is pre-partitioned by ``src`` so the
  contribution join is co-located and only the rank update shuffles.
* ``triangle_count`` — edges canonicalized to an undirected ``a < b``
  list, then the ordered two-join closure (e1(a,b) ⋈ e2(b,c) ⋈
  e3(a,c)).  The node ordering makes each triangle counted exactly
  once and bounds the join fan-out by forward-degree; at corpus scale
  order nodes by degree (not id) so hubs sit on the low-fan-out side —
  noted here, id-order kept because the oracle must be bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fixpoint import checkpoint_observed, connected_components, converge, union_new

DAMPING = 0.85
PR_ITERS = 5
#: :func:`scc` caps: peels of the live graph, and rounds of each flood
SCC_MAX_PEELS = 8
SCC_MAX_FLOOD = 64


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _und(edges: DataFrame) -> DataFrame:
    """Undirected simple graph as a canonical (a < b) distinct edge
    list — the shared projection every undirected analytic starts from
    (self-loops dropped, duplicates and reversals collapsed)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node_type, n_nodes, max_out, avg_out, max_in, avg_in) — degree
    distribution summary per node type (the prefix before ``:`` in the
    typed node id).  Missing directions count as degree 0 (a pure sink
    still has out-degree 0), so every node contributes to its type's
    averages."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    deg = (
        _nodes(edges)
        .join(out_d, "node", "left")
        .join(in_d, "node", "left")
        .select(
            F.substring_index(F.col("node"), ":", 1).alias("node_type"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )
    return (
        deg.groupBy("node_type")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("out_deg").alias("max_out"),
            F.avg("out_deg").alias("avg_out"),
            F.max("in_deg").alias("max_in"),
            F.avg("in_deg").alias("avg_in"),
        )
        .orderBy("node_type")
    )


def degree_stats_sql(edges_cte: str) -> str:
    """DuckDB twin; ``edges_cte`` must define ``edges(src, dst)``."""
    return f"""
WITH {edges_cte.strip()},
nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
od AS MATERIALIZED (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
idg AS MATERIALIZED (SELECT dst AS node, count(*) AS in_deg FROM edges GROUP BY dst),
deg AS (
  SELECT split_part(n.node, ':', 1) AS node_type,
         coalesce(od.out_deg, 0) AS out_deg,
         coalesce(idg.in_deg, 0) AS in_deg
  FROM nodes n LEFT JOIN od ON n.node = od.node
  LEFT JOIN idg ON n.node = idg.node)
SELECT node_type, count(*) AS n_nodes,
  max(out_deg) AS max_out, avg(out_deg) AS avg_out,
  max(in_deg) AS max_in, avg(in_deg) AS avg_in
FROM deg GROUP BY node_type ORDER BY node_type
"""


def pagerank(
    edges: DataFrame, iters: int = PR_ITERS, damping: float = DAMPING
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous PageRank iterations.

    Update rule (dangling mass redistributed uniformly):
        rank' = (1-d)/N + d * (sum_in rank/out_deg  +  dangling/N)

    The dangling scalar stays a 1-row DataFrame cross-joined in
    (broadcast) — no per-iteration driver collect; the only driver
    round-trip is the eager checkpoint that truncates each round's
    lineage (same pattern as the reasoning fixpoint)."""
    # nodes joins into every round's rank update and out_d into every
    # round's dangling anti-join: checkpoint both once so the per-round
    # plans start from materialized tables instead of re-running the
    # distinct-union / edge aggregation shuffles each iteration.
    nodes = _nodes(edges).localCheckpoint(eager=False)
    n = nodes.count()
    out_d = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=False)
    )
    # edges pre-joined with source out-degree: reused every iteration
    ej = (
        edges.join(
            out_d.select(F.col("node").alias("src"), "out_deg"), "src"
        ).localCheckpoint(eager=False)
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            ej.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
        )
        dangling = (
            ranks.join(out_d, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("c", F.lit(0.0)) + F.col("dm") / F.lit(float(n)))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.orderBy("node")


def pagerank_sql(
    edges_cte: str, iters: int = PR_ITERS, damping: float = DAMPING
) -> str:
    """DuckDB twin: the iteration unrolled as chained CTEs with the
    identical update rule and float arithmetic shape."""
    d = repr(damping)
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""
r{i} AS MATERIALIZED (
  SELECT n.node,
    (1.0 - {d}) / nn.n + {d} * (coalesce(c.c, 0.0) + dg.dm / nn.n) AS rank
  FROM nodes n
  CROSS JOIN ncount nn
  CROSS JOIN (
    SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r
    LEFT JOIN od ON r.node = od.node WHERE od.node IS NULL) dg
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / od.out_deg) AS c
    FROM edges e JOIN {prev} r ON e.src = r.node
    JOIN od ON e.src = od.node
    GROUP BY e.dst) c ON n.node = c.node)""")
        prev = f"r{i}"
    return f"""
WITH {edges_cte.strip()},
nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
ncount AS (SELECT count(*)::DOUBLE AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN ncount nn),
{",".join(rounds)}
SELECT node, rank FROM {prev} ORDER BY node
"""


def triangle_count(edges: DataFrame, degree_ordered: bool = True) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles) for the undirected
    simple graph underlying ``edges``.  Ordered closure join: orient
    every undirected edge along a total order of its endpoints, so each
    triangle is found exactly once as e(x,y) ⋈ e(y,z) ⋈ e(x,z).

    ``degree_ordered`` (default) orients by ``(degree, id)`` instead of
    raw id — the classic hub mitigation (Suri & Vassilvitskii, WWW'11):
    a hub of degree d sits on the HIGH side of almost all its edges, so
    its forward fan-out (the join multiplicity that the wedge step
    squares) collapses from ~d to ~its rank among neighbors; total wedge
    work drops from Σ d(v)² on id-order's worst case to O(m^1.5).  The
    triangle COUNT is orientation-invariant, so the DuckDB twin keeps
    the simpler id-order plan and both stay bit-identical.  Costs two
    key-partitioned joins against the (node, deg) table — noise at
    fixture scale, the difference between finishing and not at web
    scale where entity hubs are Zipf-distributed."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if degree_ordered:
        deg = (
            und.select(F.col("a").alias("node"))
            .unionByName(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keyed = und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
        ).join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b"
        )
        ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
        kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        fwd = keyed.select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("hi"),
        ).localCheckpoint(eager=True)
    else:
        fwd = und.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
    e1, e2, e3 = fwd.alias("e1"), fwd.alias("e2"), fwd.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.hi") == F.col("e2.lo"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = und.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(
        _nodes(edges).agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def triangle_count_sql(edges_cte: str) -> str:
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges))
SELECT
  (SELECT count(*) FROM nodes) AS n_nodes,
  (SELECT count(*) FROM und) AS n_edges,
  (SELECT count(*) FROM und e1
     JOIN und e2 ON e1.b = e2.a
     JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


def _directed(edges: DataFrame, direction: str) -> DataFrame:
    """(src, dst) edges to walk: as given (``forward``), flipped
    (``reverse``) or both ways (``undirected``)."""
    flipped = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == "forward":
        return edges
    if direction == "reverse":
        return flipped
    if direction == "undirected":
        return edges.unionByName(flipped)
    raise ValueError(f"unknown direction {direction!r}")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    direction: str = "forward",
) -> DataFrame:
    """(node, hops) — minimal hop distance from any seed node, up to
    ``max_hops`` (unreached nodes are absent).  ``direction``:
    ``forward`` follows src->dst, ``reverse`` dst->src, ``undirected``
    both.  The KG reachability primitive (e.g. "how far is every
    entity from its canonical root set").

    Frontier iteration, NOT closure: each round expands only the nodes
    first reached last round (frontier join edges -> anti-join the
    visited set), so total work is O(edges-touched), not
    O(paths) — the transitive-closure formulation enumerates every
    path and detonates on cyclic or diamond-heavy graphs.  Per round:
    one join + one anti-join + an eager checkpoint that also counts the
    frontier (``fixpoint.checkpoint_observed``; empty frontier = early
    exit before max_hops).  The visited set is the union of those
    checkpoints, so it needs no checkpoint of its own."""
    edges = _directed(edges, direction)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt, m = checkpoint_observed(
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(h)),
            n=F.count(F.lit(1)),
        )
        if not m["n"]:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def bfs_hops_sql(
    edges_cte: str,
    seeds_sql: str,
    max_hops: int = 6,
    direction: str = "forward",
) -> str:
    """DuckDB twin: capped recursive walk (UNION-distinct on
    (node, hops) + the hops guard bound the recursion), min(hops) per
    node.  ``edges_cte`` must define ``edges(src, dst)``; it is
    re-wrapped as ``em AS MATERIALIZED`` because DuckDB re-inlines a
    CTE at EVERY reference site — the recursive step would otherwise
    re-execute the (possibly join-heavy) edge derivation once per
    iteration (see BENCH.md engineering notes).  ``seeds_sql`` must select a ``node``
    column and should read from ``em``."""
    # DuckDB allows ONE reference to the recursive CTE in the step, so
    # 'undirected' doubles em instead of UNIONing two walk joins
    step = {
        "forward": "SELECT w.hops + 1, e.dst FROM walk w JOIN em e ON w.node = e.src",
        "reverse": "SELECT w.hops + 1, e.src FROM walk w JOIN em e ON w.node = e.dst",
        "undirected": "SELECT w.hops + 1, e.dst FROM walk w JOIN em e ON w.node = e.src",
    }[direction]
    em = (
        "SELECT src, dst FROM edges UNION SELECT dst, src FROM edges"
        if direction == "undirected"
        else "SELECT src, dst FROM edges"
    )
    return f"""
WITH RECURSIVE {edges_cte.strip()},
em AS MATERIALIZED ({em}),
seeds AS ({seeds_sql.strip()}),
walk(hops, node) AS (
  SELECT 0, node FROM seeds
  UNION
  {step.replace("FROM walk w", f"FROM (SELECT * FROM walk WHERE hops < {max_hops}) w")})
SELECT node, min(hops)::BIGINT AS hops FROM walk GROUP BY node ORDER BY node
"""


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """(node, label) after ``iters`` synchronous label-propagation
    rounds over the undirected simple graph — community detection for
    entity clustering (reference scope: the alias-cluster / topic-
    grouping signal a KG UI surfaces next to PageRank salience).

    Update rule (deterministic): every node simultaneously adopts the
    label held by the plurality of its neighbours; ties break to the
    LARGEST label string (both engines express max-of-(count,label)
    natively, unlike min-at-max-count which needs a second pass).
    Nodes keep their own id as the initial label.  Synchronous
    updates + total tie order make the round sequence a pure function
    of the graph, so a DuckDB twin can unroll the identical rounds —
    the same determinism contract as ``pagerank``.

    Plan: the neighbour list (undirected edge table doubled into
    (node, nbr)) is checkpointed once; each round is one join + two
    map-side-combinable aggregations on the same ``node`` key — at
    cluster scale pre-partition ``nbr`` by node and every round
    reuses that exchange.  Known LPA caveat, documented not hidden:
    synchronous updates can oscillate on bipartite structures, so
    fixed ``iters`` is part of the operator contract (at corpus scale
    you'd run semi-asynchronous coloring rounds; that variant has no
    bit-stable cross-engine twin, so the oracle pins the synchronous
    one)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nbr = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        labels = (
            nbr.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.max(F.struct("cnt", "label")).alias("m"))
            .select("node", F.col("m.label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels.orderBy("node")


def label_propagation_sql(edges_cte: str, iters: int = 4) -> str:
    """DuckDB twin: rounds unrolled as chained CTEs; plurality pick =
    ``max(struct_pack(cnt, label)).label`` — identical (count, label)
    lexicographic max as the Spark struct max.  ``edges_cte`` must
    define ``edges(src, dst)``; every round CTE is MATERIALIZED
    (DuckDB re-inlines CTEs per reference site — see the engineering notes)."""
    rounds, prev = _lpa_round_ctes(iters)
    return f"""
WITH {edges_cte.strip()},
{_LPA_BASE_CTES}
{rounds}
SELECT node, label FROM {prev} ORDER BY node
"""


def _lpa_round_ctes(iters: int) -> tuple[str, str]:
    """The unrolled LPA round CTEs; returns (joined_ctes, last_name)."""
    rounds = []
    prev = "l0"
    for i in range(1, iters + 1):
        rounds.append(f"""
c{i} AS MATERIALIZED (
  SELECT n.node, p.label, count(*) AS cnt
  FROM nbr n JOIN {prev} p ON n.nbr = p.node
  GROUP BY n.node, p.label),
l{i} AS MATERIALIZED (
  SELECT node,
    (max(struct_pack(cnt := cnt, label := label))).label AS label
  FROM c{i} GROUP BY node)""")
        prev = f"l{i}"
    return ",".join(rounds), prev


# shared by label_propagation_sql / modularity_sql: undirected simple
# graph, doubled neighbour list, identity label seed
_LPA_BASE_CTES = """und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
nbr AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und),
l0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS label FROM nbr),"""


def modularity(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(label, n_nodes, degree_sum, intra_edges, q_contrib) — Newman
    modularity decomposition of the label-propagation communities over
    the undirected simple graph: per community c,
    ``q_contrib = e_c/m - (d_c/(2m))^2`` (e_c intra-community edges,
    d_c degree sum, m total edges); ``sum(q_contrib)`` is Q, the
    standard did-clustering-find-real-structure gate (Newman 2004,
    public literature) run BEFORE trusting LPA output for entity
    grouping — near-zero Q means the communities are noise.

    Plan: LPA labels (iters joins, see :func:`label_propagation`), then
    the decomposition itself is vocabulary-cheap — degrees ride the
    doubled neighbour list's node key, community rollup is one
    label-keyed aggregation, intra-edge counting joins the edge list to
    the node->label map on each endpoint (two broadcast-able joins at
    cluster scale: the label map is nodes-sized, edges are the big
    side), and m arrives as a broadcast 1-row total — no driver
    ``collect``, no window."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()  # 3 consumers: totals, degrees, intra join
    )
    labels = label_propagation(edges, iters)  # checkpointed output
    m = und.groupBy().agg(F.count(F.lit(1)).cast("double").alias("m_d"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    comm = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    half_deg = F.col("degree_sum") / (F.lit(2.0) * F.col("m_d"))
    return (
        comm.join(intra, "label", "left")
        .select(
            "label",
            "n_nodes",
            "degree_sum",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
        )
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            "degree_sum",
            "intra_edges",
            (F.col("intra_edges") / F.col("m_d") - half_deg * half_deg).alias(
                "q_contrib"
            ),
        )
        .orderBy("label")
    )


def modularity_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle from the INDEPENDENTLY-derived adjacency-sum form
    of Newman modularity, Q = (1/2m)·Σ_ij [A_ij − k_i·k_j/2m]·δ(c_i,c_j)
    (Newman 2004 eq. 2) — NOT a transcription of the Spark expression
    tree: there is no degree table and no per-node aggregation here.
    Over the doubled (symmetrized) edge list, d_c is simply the COUNT
    of directed edges whose source lies in c, and the intra term is the
    count of directed edges with both ends in c (= 2·e_c), so
    q_contrib = intra_directed/2m − (d_c/2m)².  The two routes agree
    bit-stably: 2e/2m and e/m are the same IEEE division (power-of-two
    scaling is exact), and d_c/2m divides the same operands either way.
    Only the community labels replay the LPA rounds — they ARE the
    algorithm's definitional output."""
    rounds, prev = _lpa_round_ctes(iters)
    return f"""
WITH {edges_cte.strip()},
{_LPA_BASE_CTES}
{rounds},
lab AS MATERIALIZED (SELECT node, label FROM {prev}),
dbl AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
tot AS (SELECT count(*)::DOUBLE AS two_m FROM dbl),
ends AS MATERIALIZED (
  SELECT ls.label AS cs, lt.label AS ct
  FROM dbl JOIN lab ls ON dbl.s = ls.node JOIN lab lt ON dbl.t = lt.node),
comm AS (
  SELECT cs AS label,
         count(*)::BIGINT AS degree_sum,
         (count(*) FILTER (WHERE cs = ct))::BIGINT AS intra_directed
  FROM ends GROUP BY cs),
sizes AS (SELECT label, count(*)::BIGINT AS n_nodes FROM lab GROUP BY label)
SELECT c.label, z.n_nodes, c.degree_sum,
  (c.intra_directed / 2)::BIGINT AS intra_edges,
  c.intra_directed / t.two_m
    - (c.degree_sum / t.two_m) * (c.degree_sum / t.two_m) AS q_contrib
FROM comm c JOIN sizes z ON c.label = z.label CROSS JOIN tot t
ORDER BY c.label
"""


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    salt: str = "w1",
) -> DataFrame:
    """(walk_id, step, node) — ``walks_per_node`` deterministic random
    walks of up to ``walk_len`` steps from every node with out-edges:
    the node2vec/DeepWalk corpus generator that turns a materialized KG
    into skip-gram training sequences.

    "Random" is salted-hash pseudo-randomness, not RNG state: the step
    choice is ``md5(salt:walk_id:step:node) % out_deg`` over the
    node's dst-sorted neighbour ranks, so walks are reproducible
    across runs, engines, and partitionings (the same property the
    corpus ``split_corpus`` relies on), and a DuckDB twin can replay
    them bit-for-bit.  Walks stop early at sinks (inner join drops
    them from later frontiers) — step counts are ragged by design.

    Plan: the dst-ranked neighbour table (one window over the distinct
    edge list) is checkpointed once; each step is ONE equi-join of the
    frontier on the node key with the rank equality folded in as a
    post-join filter.  ``walk_len`` joins total, frontier-sized
    shuffles only — never path-enumeration; at cluster scale
    pre-partition the ranked table by ``src`` and every step reuses
    that exchange."""
    from pyspark.sql import Window

    dedges = edges.filter(F.col("src") != F.col("dst")).distinct()
    ranked = (
        dedges.withColumn(
            "rank", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
        )
        .withColumn("out_deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    starts = (
        dedges.select("src").distinct()
        .select(
            "src",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("i"),
        )
        .select(
            F.concat(F.col("src"), F.lit("#"), F.col("i").cast("string"))
            .alias("walk_id"),
            F.col("src").alias("node"),
        )
    )
    frontier = starts.localCheckpoint(eager=True)
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    for step in range(1, walk_len + 1):
        choice = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(salt),
                            F.col("walk_id"),
                            F.lit(str(step)),
                            F.col("node"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % F.col("out_deg")
            + 1
        )
        frontier = (
            frontier.join(ranked, frontier["node"] == ranked["src"])
            .filter(F.col("rank") == choice)
            .select("walk_id", F.col("dst").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            frontier.select("walk_id", F.lit(step).alias("step"), "node")
        )
    return out.orderBy("walk_id", "step")


def random_walks_sql(
    edges_cte: str,
    walk_len: int = 4,
    walks_per_node: int = 2,
    salt: str = "w1",
) -> str:
    """DuckDB twin: identical salted-md5 step choice replayed through
    unrolled step CTEs.  ``edges_cte`` must define ``edges(src, dst)``."""
    steps = []
    prev = "w0"
    for s in range(1, walk_len + 1):
        steps.append(f"""
w{s} AS MATERIALIZED (
  SELECT w.walk_id, r.dst AS node
  FROM {prev} w JOIN ranked r ON r.src = w.node
  AND r.rank = ('0x' || substr(md5(
        '{salt}' || ':' || w.walk_id || ':' || '{s}' || ':' || w.node),
      1, 4))::BIGINT % r.out_deg + 1)""")
        prev = f"w{s}"
    union = "\nUNION ALL\n".join(
        f"SELECT walk_id, {s} AS step, node FROM w{s}"
        for s in range(walk_len + 1)
    )
    return f"""
WITH {edges_cte.strip()},
de AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
ranked AS MATERIALIZED (
  SELECT src, dst,
    row_number() OVER (PARTITION BY src ORDER BY dst) AS rank,
    count(*) OVER (PARTITION BY src) AS out_deg
  FROM de),
w0 AS MATERIALIZED (
  SELECT s.src || '#' || u.i::VARCHAR AS walk_id, s.src AS node
  FROM (SELECT DISTINCT src FROM de) s,
  unnest(generate_series(0, {walks_per_node - 1})) AS u(i)),
{",".join(steps)}
SELECT walk_id, step, node FROM ({union})
ORDER BY walk_id, step
"""


def neighbor_jaccard(
    edges: DataFrame,
    min_shared: int = 2,
    hub_cap: int = 50,
    threshold: float = 0.25,
) -> DataFrame:
    """(node_a, node_b, shared, deg_a, deg_b, jaccard) — node pairs
    whose (hub-filtered) undirected neighbour sets overlap with
    Jaccard >= ``threshold``: the structural-equivalence alias
    detector.  After canonicalization, two entities the text pipeline
    failed to merge still sit on near-identical neighbourhoods — this
    surfaces them for review (the graph-side complement of the
    MinHash string-similarity linker).

    Neighbours with degree > ``hub_cap`` are excluded FIRST, and both
    ``shared`` and the degrees are computed over the filtered
    neighbour table, so the measure stays internally consistent: a
    hub (everyone links rdf:type-like nodes) carries no alias signal
    but would contribute O(deg^2) wedges — the standard wedge-
    explosion guard.  ``jaccard = shared / (deg_a + deg_b - shared)``
    over exact integer counts + one double division (bit-stable
    cross-engine).

    Plan: undirected neighbour table (one distinct), hub list (one
    grouped count, broadcast anti-join), wedge self-equi-join on the
    shared-neighbour key bounded by ``hub_cap`` fan-out, one grouped
    count, broadcast degree joins.  At 100 TB the wedge join is the
    only super-linear stage and its per-key fan-out is capped at
    ``hub_cap**2`` by construction."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nbr = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    hubs = (
        nbr.groupBy("nbr")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > hub_cap)
        .select("nbr")
    )
    filt = nbr.join(F.broadcast(hubs), "nbr", "left_anti").localCheckpoint(
        eager=True
    )
    deg = filt.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    x, y = filt.alias("x"), filt.alias("y")
    shared = (
        x.join(y, (F.col("x.nbr") == F.col("y.nbr"))
               & (F.col("x.node") < F.col("y.node")))
        .groupBy(
            F.col("x.node").alias("node_a"), F.col("y.node").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        shared.join(
            F.broadcast(deg.select(F.col("node").alias("node_a"),
                                   F.col("deg").alias("deg_a"))), "node_a")
        .join(
            F.broadcast(deg.select(F.col("node").alias("node_b"),
                                   F.col("deg").alias("deg_b"))), "node_b")
        .select(
            "node_a", "node_b", "shared", "deg_a", "deg_b",
            (
                F.col("shared").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared"))
                .cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("node_a", "node_b")
    )


def neighbor_jaccard_sql(
    edges_cte: str,
    min_shared: int = 2,
    hub_cap: int = 50,
    threshold: float = 0.25,
) -> str:
    """DuckDB twin; ``edges_cte`` must define ``edges(src, dst)``."""
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
nbr AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und),
hubs AS (
  SELECT nbr FROM nbr GROUP BY nbr HAVING count(*) > {hub_cap}),
filt AS MATERIALIZED (
  SELECT n.node, n.nbr FROM nbr n LEFT JOIN hubs h USING (nbr)
  WHERE h.nbr IS NULL),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM filt GROUP BY node),
shared AS (
  SELECT x.node AS node_a, y.node AS node_b, count(*) AS shared
  FROM filt x JOIN filt y ON x.nbr = y.nbr AND x.node < y.node
  GROUP BY x.node, y.node
  HAVING count(*) >= {min_shared})
SELECT s.node_a, s.node_b, s.shared, da.deg AS deg_a, db.deg AS deg_b,
  s.shared::DOUBLE / (da.deg + db.deg - s.shared)::DOUBLE AS jaccard
FROM shared s
JOIN deg da ON s.node_a = da.node
JOIN deg db ON s.node_b = db.node
WHERE s.shared::DOUBLE / (da.deg + db.deg - s.shared)::DOUBLE >= {threshold}
ORDER BY s.node_a, s.node_b
"""


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, n_pairs) — skip-gram co-occurrence counts from
    a ``random_walks`` output: every ordered (center, context) node
    pair within ``window`` steps of each other on the same walk, with
    multiplicity.  This is the actual training input of
    node2vec/DeepWalk — the walks are the corpus, these pairs are the
    (word, context) examples the embedding trains on.

    One self-equi-join on walk_id bounded by the step-distance
    predicate (per-walk fan-out <= 2*window per row — walks are
    ``walk_len``-bounded so the join never explodes), one grouped
    count with map-side partials.  At cluster scale walks are written
    partitioned by walk_id hash, making the self-join co-located."""
    a, b = walks.alias("a"), walks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & (F.col("a.step") != F.col("b.step"))
            & (F.abs(F.col("a.step") - F.col("b.step")) <= window),
        )
        .groupBy(
            F.col("a.node").alias("center"), F.col("b.node").alias("context")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("center", "context")
    )


def walk_skipgrams_sql(walks_sql: str, window: int = 2) -> str:
    """DuckDB twin over the ``random_walks_sql`` result (passed as a
    complete query string)."""
    return f"""
WITH walks AS MATERIALIZED ({walks_sql.strip()})
SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id AND a.step <> b.step
  AND abs(a.step - b.step) <= {window}
GROUP BY a.node, b.node
ORDER BY center, context
"""


# ------------------------------------------------------------------ #
# k-core decomposition (bounded peel)
# ------------------------------------------------------------------ #


def kcore(edges: DataFrame, k: int = 2, rounds: int = 4) -> DataFrame:
    """(node, deg) — nodes surviving ``rounds`` of k-core peeling over
    the undirected simple graph, with their degree inside the surviving
    subgraph.  The standard junk-entity filter before embedding
    training / graph mining: iteratively drop every node whose degree
    among still-live nodes is < k; at convergence what remains is the
    k-core (degeneracy-ordering's workhorse, Seidman 1983).

    ``rounds`` is a FIXED cap, not a convergence probe, so the output
    is deterministic and identically computable by the unrolled-CTE
    oracle twin (the capped-BFS / unrolled-PageRank convention; tests
    assert the fixture graphs converge inside the cap by comparing
    ``rounds`` vs ``rounds + 1``).  Peeling halves the candidate set
    fast in practice — real graphs converge in a handful of rounds —
    and each round is two semi-joins (both-endpoints-live filter) plus
    one count aggregation, all key-partitioned: no window over an
    unbounded group, no driver materialization, so the plan survives a
    100x edge-count scale-up unchanged.
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .localCheckpoint(eager=True)
    )
    live = und.select("node").distinct()
    deg = None
    for _ in range(rounds):
        alive = und.join(live, "node", "left_semi").join(
            live.select(F.col("node").alias("nbr")), "nbr", "left_semi"
        )
        deg = alive.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        live = (
            deg.filter(F.col("deg") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
    return (
        deg.filter(F.col("deg") >= k)
        .select("node", "deg")
        .orderBy("node")
    )


def kcore_sql(edges_cte: str, k: int = 2, rounds: int = 4) -> str:
    """DuckDB twin: the identical ``rounds`` peel unrolled as chained
    CTEs.  ``edges_cte`` must define ``edges(src, dst)``; every live
    set is MATERIALIZED because DuckDB re-inlines a CTE at each
    reference site and l{i} is read three times by round i+1."""
    parts = [
        edges_cte.strip(),
        """und AS MATERIALIZED (
  SELECT DISTINCT src AS node, dst AS nbr FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
  WHERE src <> dst)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT node FROM und)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT u.node, count(*)::BIGINT AS deg
  FROM und u
  JOIN l{i - 1} a ON u.node = a.node
  JOIN l{i - 1} b ON u.nbr = b.node
  GROUP BY u.node)"""
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, deg FROM d{rounds} WHERE deg >= {k} ORDER BY node"
    )


# ------------------------------------------------------------------ #
# HITS hubs / authorities
# ------------------------------------------------------------------ #


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, hub, auth) after ``iters`` synchronous HITS iterations
    (Kleinberg 1999): auth' = normalized in-sum of hub, then hub' =
    normalized out-sum of auth'.  The complement to PageRank salience
    on directed KG edge tables — mutually-reinforcing "good source"
    (hub) vs "good target" (authority) scores, e.g. pages that cite
    many canonical entities vs the entities they converge on.

    L1 (sum-to-one) normalization instead of the textbook L2: same
    fixpoint direction, no sqrt, and the normalizer stays a 1-row
    aggregate broadcast-cross-joined in — no per-iteration driver
    collect (the ``pagerank`` dangling-mass pattern).  Per iteration:
    two edge⋈score joins + two key-partitioned sums; eager checkpoint
    truncates each round's lineage."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    nodes = _nodes(e).localCheckpoint(eager=False)
    h = nodes.select("node", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s"))
        )
        a_tot = a_raw.agg(F.sum("s").alias("t"))
        # a is NOT checkpointed: its lineage is two joins above the
        # h checkpoint of the previous round (shallow), so the round's
        # lineage stays bounded with half the driver round-trips
        # (timing-neutral at sf0.1 — the leg is aggregation-bound —
        # but one fewer blocking materialization per round on a real
        # cluster)
        a = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("t")).alias("auth"),
            )
        )
        h_raw = (
            e.join(a.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("s"))
        )
        h_tot = h_raw.agg(F.sum("s").alias("t"))
        h = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("t")).alias("hub"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        nodes.join(h, "node").join(a, "node")
        .select("node", "hub", "auth")
        .orderBy("node")
    )


def hits_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB twin: the identical L1-normalized rounds unrolled as
    chained CTEs (raw-sum CTEs MATERIALIZED — each is read twice, for
    the scores and for its own normalizer)."""
    parts = [
        edges_cte.strip(),
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        """nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM e UNION SELECT dst FROM e))""",
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS s
  FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst)"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT n.node, coalesce(r.s, 0.0) / t.t AS auth
  FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node
  CROSS JOIN (SELECT sum(s) AS t FROM ar{i}) t)"""
        )
        parts.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS s
  FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src)"""
        )
        parts.append(
            f"""h{i} AS MATERIALIZED (
  SELECT n.node, coalesce(r.s, 0.0) / t.t AS hub
  FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node
  CROSS JOIN (SELECT sum(s) AS t FROM hr{i}) t)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n.node, h.hub, a.auth
FROM nodes n JOIN h{iters} h ON n.node = h.node
JOIN a{iters} a ON n.node = a.node
ORDER BY n.node"""
    )


# ------------------------------------------------------------------ #
# connected-component size distribution (fragmentation monitor)
# ------------------------------------------------------------------ #


def component_size_dist(edges: DataFrame) -> DataFrame:
    """(csize, n_components) — how many connected components exist at
    each size, size-ascending.  The canonicalization QA statistic: a
    healthy alias-merge yields many small components and a bounded
    giant one; an over-aggressive linker shows up as one component
    swallowing the graph, an under-linker as a flat wall of singleton
    pairs.  Composition: large/small-star CC (O(log n) rounds) ->
    groupBy(component).count -> groupBy(count).count — every stage a
    key-partitioned aggregation."""
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("csize")
    )


def component_size_dist_sql(edges_cte: str) -> str:
    """DuckDB twin: recursive min-label reachability (MATERIALIZED —
    the recursive CTE would otherwise re-run per reference), then the
    same two aggregations.  Self-loops count their node; isolated
    endpoints keep a singleton component, matching the Spark CC
    contract."""
    return f"""
WITH RECURSIVE {edges_cte.strip()},
sym AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM edges WHERE src <> dst
  UNION SELECT dst, src FROM edges WHERE src <> dst),
nodes AS MATERIALIZED (
  SELECT DISTINCT u AS n FROM sym UNION SELECT DISTINCT v FROM sym
  UNION SELECT src FROM edges UNION SELECT dst FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON r.m = s.u),
comp AS MATERIALIZED (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
sizes AS (SELECT component, count(*)::BIGINT AS csize FROM comp GROUP BY component)
SELECT csize, count(*)::BIGINT AS n_components
FROM sizes GROUP BY csize ORDER BY csize
"""


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    iters: int = PR_ITERS,
    damping: float = DAMPING,
) -> DataFrame:
    """(node, rank): personalized PageRank — teleport (and dangling)
    mass returns to the ``seeds`` set instead of the uniform vector
    (the TrustRank recipe: propagate quality from a vetted seed list;
    spam rings that only cite each other receive no teleport inflow).

        rank' = (1-d)*s(v) + d * (sum_in rank/out_deg + dangling*s(v))
        s(v)  = 1/|seeds| for seed nodes, else 0

    Same distributed shape as :func:`pagerank` (per-round: one edge
    join + one aggregation + a broadcast dangling scalar); the seed
    vector is a literal ``isin`` projection, no extra table."""
    if not seeds:
        raise ValueError("empty seed set")
    nodes = _nodes(edges).localCheckpoint(eager=True)
    s = (
        F.when(F.col("node").isin(list(seeds)), 1.0 / len(seeds))
        .otherwise(0.0)
    )
    out_d = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=True)
    )
    ej = edges.join(
        out_d.select(F.col("node").alias("src"), "out_deg"), "src"
    ).localCheckpoint(eager=True)
    ranks = nodes.select("node", s.alias("rank"))
    for _ in range(iters):
        contrib = (
            ej.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("c"))
        )
        dangling = (
            ranks.join(out_d, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * s
                    + F.lit(damping)
                    * (F.coalesce("c", F.lit(0.0)) + F.col("dm") * s)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.orderBy("node")


def personalized_pagerank_sql(
    edges_cte: str,
    seeds: list[str],
    iters: int = PR_ITERS,
    damping: float = DAMPING,
) -> str:
    """DuckDB twin: identical update rule unrolled, seed vector as a
    CASE over an inline list."""
    d = repr(damping)
    inlist = ", ".join("'" + x.replace("'", "''") + "'" for x in seeds)
    sv = f"(CASE WHEN {{al}}.node IN ({inlist}) THEN 1.0 / {len(seeds)} ELSE 0.0 END)"
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""
r{i} AS MATERIALIZED (
  SELECT n.node,
    (1.0 - {d}) * {sv.format(al="n")}
      + {d} * (coalesce(c.c, 0.0) + dg.dm * {sv.format(al="n")}) AS rank
  FROM nodes n
  CROSS JOIN (
    SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r
    LEFT JOIN od ON r.node = od.node WHERE od.node IS NULL) dg
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / od.out_deg) AS c
    FROM edges e JOIN {prev} r ON e.src = r.node
    JOIN od ON e.src = od.node
    GROUP BY e.dst) c ON n.node = c.node)""")
        prev = f"r{i}"
    return f"""
WITH {edges_cte.strip()},
nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
od AS MATERIALIZED (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, {sv.format(al="nodes")} AS rank FROM nodes),
{",".join(rounds)}
SELECT node, rank FROM {prev} ORDER BY node
"""


def scc(edges: DataFrame) -> DataFrame:
    """(node, scc_id) — strongly connected components of the directed
    graph; ``scc_id`` is the maximum member id (any total order on the
    node type works: bigint ids or lexicographic URIs).  The directed
    complement of :mod:`fixpoint`'s connected components — what
    redirect loops, sameAs cycles, and mutually-linking spam rings
    actually are on a web graph (CC over an undirected view would
    glue a hub and all its one-way satellites into one blob).

    Algorithm: distributed color propagation (Orzan's coloring scheme,
    the standard BSP SCC recipe — public literature, e.g. Slota et
    al.'s Multistep method):

      1. forward-flood ``color(v) = max(ancestors(v) + {v})`` to
         fixpoint (max-label propagation along edge direction);
      2. every ``v`` with ``color(v) == v`` is a root; ALL roots are
         processed simultaneously;
      3. backward-flood each root's color against edge direction, but
         only through nodes already carrying that color — the flooded
         set is exactly the root's SCC (monochrome path => mutual
         reachability both ways);
      4. extract, peel, repeat on the remainder.

    Every detected SCC peels per outer round (at minimum the live
    maximum's), so outer rounds are bounded by the defer-chain depth,
    not by the SCC count — real web graphs finish in a handful.  Both
    floods are key-partitioned join+max-agg (map-side combinable)
    rounds with ``localCheckpoint`` plan-cut per round; no window over
    an unbounded group, no driver materialization of nodes or edges —
    the per-round shape is the same as ``pagerank``'s and survives a
    100x edge scale-up.  Every round reads its convergence from its own
    checkpoint job (``fixpoint.converge``).  The caps
    (``SCC_MAX_PEELS``, ``SCC_MAX_FLOOD``) raise instead of silently
    truncating (the capped-fixpoint convention; tests assert the
    fixtures converge inside the caps)."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    live_n, live = checkpoint_observed(_nodes(e), n=F.count(F.lit(1)))
    live_e = e
    done: list[DataFrame] = []

    def color_flood(colors: DataFrame) -> tuple[DataFrame, Column]:
        # each node's old colour rides along (every flooded node is
        # live, so it has one), making the changed flag a column
        cand = live_e.join(
            colors.select(F.col("node").alias("src"), "color"), "src"
        ).select(F.col("dst").alias("node"), "color", F.lit(None).alias("old"))
        new = (
            colors.select("node", "color", F.col("color").alias("old"))
            .unionByName(cand)
            .groupBy("node")
            .agg(F.max("color").alias("color"), F.max("old").alias("old"))
        )
        return new, F.col("color") != F.col("old")

    def backward_flood(member: DataFrame) -> tuple[DataFrame, Column]:
        preds = (
            live_e.join(
                member.select(F.col("node").alias("dst"), "color"), "dst"
            )
            .select(F.col("src").alias("node"), "color")
            .join(colors, ["node", "color"], "left_semi")
        )
        return union_new(member, preds, ["node", "color"])

    for _outer in range(SCC_MAX_PEELS):
        if not live["n"]:
            break
        colors, ok = converge(
            live_n.select("node", F.col("node").alias("color")),
            color_flood,
            SCC_MAX_FLOOD,
        )
        if not ok:
            raise RuntimeError("scc: color flood exceeded SCC_MAX_FLOOD")
        member, ok = converge(
            colors.filter(F.col("node") == F.col("color")).select("node", "color"),
            backward_flood,
            SCC_MAX_FLOOD,
        )
        if not ok:
            raise RuntimeError("scc: backward flood exceeded SCC_MAX_FLOOD")
        done.append(member.select("node", F.col("color").alias("scc_id")))
        live_n, live = checkpoint_observed(
            live_n.join(member, "node", "left_anti"), n=F.count(F.lit(1))
        )
        live_e = (
            live_e.join(
                member.select(F.col("node").alias("src")), "src", "left_anti"
            )
            .join(
                member.select(F.col("node").alias("dst")), "dst", "left_anti"
            )
            .localCheckpoint(eager=True)
        )
    if live["n"]:
        raise RuntimeError("scc: peel exceeded SCC_MAX_PEELS")
    if not done:
        return e.select(
            F.col("src").alias("node"), F.col("src").alias("scc_id")
        ).limit(0)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.orderBy("node")


def assortativity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, assortativity) — degree-assortativity
    coefficient (Newman 2002): the Pearson correlation of endpoint
    total-degrees over the symmetrized undirected edge set.  A classic
    web-graph health signal: organic link graphs are mildly
    DISassortative (hubs link to leaves, r < 0), while link farms and
    mutual-citation rings push r positive.

    One degree agg + two broadcast-sized joins + corr() (a single
    distributed moment aggregation — no pair materialization beyond
    the edge list itself)."""
    # und feeds 4 consumers and deg joins twice: materialize once
    # (the the engineering notes multi-consumer-aggregation rule)
    und = _und(edges).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    pairs = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("y")), "b")
    )
    return pairs.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.corr("x", "y").alias("assortativity"),
    )


def assortativity_sql(edges_cte: str) -> str:
    """DuckDB oracle from Newman's 2002 EXPLICIT closed form (eq. 4),
    independently derived — NOT the Spark route (corr() over the
    doubled edge list):

        r = [M⁻¹·Σ xy − (M⁻¹·Σ ½(x+y))²]
          / [M⁻¹·Σ ½(x²+y²) − (M⁻¹·Σ ½(x+y))²]

    with (x, y) the endpoint total-degrees of each UNDIRECTED edge
    counted once (no symmetrization, no correlation aggregate).  The
    two derivations agree because doubling the edges makes the x and y
    marginals identical, collapsing Pearson's corr to exactly these
    moments; integer sums feed the formula, so the only float steps are
    the final divisions.  ``edges_cte`` must define
    ``edges(src, dst)``."""
    return f"""
WITH {edges_cte.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node),
mom AS (
  SELECT count(*)::BIGINT AS m,
         sum(da.deg * db.deg)::BIGINT AS sxy,
         sum(da.deg + db.deg)::BIGINT AS s1,
         sum(da.deg * da.deg + db.deg * db.deg)::BIGINT AS s2
  FROM und JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node)
SELECT m AS n_edges,
  (sxy / (1.0::DOUBLE * m) - (s1 / (2.0::DOUBLE * m)) * (s1 / (2.0::DOUBLE * m)))
  / (s2 / (2.0::DOUBLE * m) - (s1 / (2.0::DOUBLE * m)) * (s1 / (2.0::DOUBLE * m)))
  AS assortativity
FROM mom
"""


#: HyperBall: m = 16 registers (1 hex char), 24-bit rho window.
HB_M = 16
HB_ALPHA = 0.673  # Flajolet's alpha_16


def hyperball_reach(edges: DataFrame, t: int = 3) -> DataFrame:
    """(node, exact_reach, est_reach, rel_err) — the size of every
    node's out-ball (nodes reachable within ``t`` hops, self included):
    exact set propagation vs a HyperBall estimate (Boldi & Vigna 2013
    — THE web-graph neighborhood-function/diameter algorithm: each
    node carries a tiny HLL register vector; one round merges each
    node's registers with its successors' via max).

    Registers are the engine's integer HLL idiom (bucket = 1 hex char
    of md5(node), rho from the next 6 hex; register merge = groupBy
    max — associative, map-side combinable), so a round is ONE edge
    join + ONE max-agg over (node, bucket): O(t) shuffles total,
    register state m=16 rows per node.  At 100 TB this is the whole
    point — exact per-node reach is O(n * reach) state (the twin
    column here is the fixture-scale truth harness), HyperBall is
    O(n * m) flat.  Estimator identical to sketches.hll_distinct
    (integer harmonic sum, linear-counting small-range branch)."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    nodes = _nodes(e).localCheckpoint(eager=False)
    h = F.md5(F.col("seen"))
    w = F.conv(F.substring(h, 2, 6), 16, 10).cast("long")
    rho = (
        F.when(w == 0, F.lit(25))
        .otherwise(25 - F.length(F.conv(F.substring(h, 2, 6), 16, 2)))
    )
    bucket = F.conv(F.substring(h, 1, 1), 16, 10).cast("long")
    # exact ball via set propagation; registers derived FROM the exact
    # frontier each round would defeat the point — registers propagate
    # independently below.
    ball = nodes.select("node", F.col("node").alias("seen"))
    regs = nodes.select(
        "node", F.col("node").alias("seen")
    ).select("node", bucket.alias("bucket"), rho.alias("rho"))
    for _ in range(t):
        ball = (
            ball.unionByName(
                e.join(
                    ball.select(F.col("node").alias("dst"), "seen"), "dst"
                ).select(F.col("src").alias("node"), "seen")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        regs = (
            regs.unionByName(
                e.join(
                    regs.select(F.col("node").alias("dst"), "bucket", "rho"),
                    "dst",
                ).select(F.col("src").alias("node"), "bucket", "rho")
            )
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
    exact = ball.groupBy("node").agg(
        F.countDistinct("seen").alias("exact_reach")
    )
    from ..datapipe.sketches import hll_estimate

    estd = hll_estimate(
        regs.withColumnRenamed("rho", "r"), ["node"], m=HB_M, alpha=HB_ALPHA
    )
    return (
        exact.join(estd, "node")
        .select(
            "node",
            "exact_reach",
            F.col("est").alias("est_reach"),
            (F.col("est") / F.col("exact_reach") - 1.0).alias("rel_err"),
        )
        .orderBy("node")
    )


def hyperball_reach_sql(edges_cte: str, t: int = 3) -> str:
    """DuckDB twin: identical register rounds unrolled as chained
    CTEs + a capped recursive reach for the exact column."""
    m = HB_M
    rounds = []
    prev_b, prev_r = "b0", "r0"
    for i in range(1, t + 1):
        rounds.append(f"""
b{i} AS MATERIALIZED (
  SELECT DISTINCT node, seen FROM (
    SELECT node, seen FROM {prev_b}
    UNION ALL
    SELECT e.src AS node, p.seen FROM edges e
    JOIN {prev_b} p ON e.dst = p.node)),
r{i} AS MATERIALIZED (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM {prev_r}
    UNION ALL
    SELECT e.src AS node, p.bucket, p.rho FROM edges e
    JOIN {prev_r} p ON e.dst = p.node)
  GROUP BY node, bucket)""")
        prev_b, prev_r = f"b{i}", f"r{i}"
    alpha_c = repr(HB_ALPHA * m * m * (1 << 25))
    return f"""
WITH {edges_cte.strip()},
nodes AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
b0 AS MATERIALIZED (SELECT node, node AS seen FROM nodes),
r0 AS MATERIALIZED (
  SELECT node,
    ('0x' || substr(md5(node), 1, 1))::BIGINT AS bucket,
    CASE WHEN ('0x' || substr(md5(node), 2, 6))::BIGINT = 0 THEN 25
         ELSE 25 - len(bin(('0x' || substr(md5(node), 2, 6))::BIGINT))
    END AS rho
  FROM nodes),
{",".join(rounds)},
exact AS (
  SELECT node, count(DISTINCT seen)::BIGINT AS exact_reach
  FROM {prev_b} GROUP BY node),
summed AS (
  SELECT node,
    (sum((2::BIGINT ^ (25 - rho))::BIGINT)::BIGINT
      + ({m} - count(*)) * {1 << 25})::BIGINT AS int_sum,
    ({m} - count(*))::BIGINT AS v_zero
  FROM {prev_r} GROUP BY node),
est AS (
  SELECT x.node, x.exact_reach,
    CASE WHEN ({alpha_c} / s.int_sum) <= {2.5 * m} AND s.v_zero > 0
         THEN {float(m)} * ln({float(m)} / s.v_zero)
         ELSE {alpha_c} / s.int_sum END AS est_reach
  FROM exact x JOIN summed s USING (node))
SELECT node, exact_reach, est_reach,
  est_reach / exact_reach - 1.0 AS rel_err
FROM est ORDER BY node
"""


def local_clustering(edges: DataFrame) -> DataFrame:
    """(node, deg, n_triangles, lcc) — per-node local clustering
    coefficient over the undirected simple graph: lcc = 2T(v) /
    (deg(v)(deg(v)-1)), 0 for degree < 2.  The node-level extraction-
    quality probe next to the global closure rate: a canonical entity
    whose neighborhood never closes (lcc ~ 0 at high degree) is the
    classic signature of a hub created by over-merging aliases.

    Same ordered closure join as :func:`triangle_count` (each triangle
    found once), then each triangle is exploded to its three corners
    and counted per node — one extra narrow fan-out (x3) plus one
    key-partitioned agg; per-node counts are orientation-invariant, so
    the DuckDB twin keeps id-order and stays bit-identical."""
    und = _und(edges).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    fwd = und.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
    e1, e2, e3 = fwd.alias("e1"), fwd.alias("e2"), fwd.alias("e3")
    corners = (
        e1.join(e2, F.col("e1.hi") == F.col("e2.lo"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.lo"), F.col("e1.hi"), F.col("e2.hi"))
            ).alias("node")
        )
    )
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
        .orderBy("node")
    )


def local_clustering_sql(edges_cte: str) -> str:
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node),
tris AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT x AS node FROM tris UNION ALL
  SELECT y FROM tris UNION ALL
  SELECT z FROM tris),
tc AS (SELECT node, count(*)::BIGINT AS n_triangles
       FROM corners GROUP BY node)
SELECT d.node, d.deg, coalesce(tc.n_triangles, 0)::BIGINT AS n_triangles,
  CASE WHEN d.deg >= 2
       THEN 2.0 * coalesce(tc.n_triangles, 0) / (d.deg * (d.deg - 1))
       ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN tc ON d.node = tc.node
ORDER BY d.node
"""


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    direction: str = "undirected",
) -> DataFrame:
    """(node, n_sources, harmonic) — harmonic centrality estimated from
    a seed sample (Eppstein-Wang / HyperBall's exact little sibling,
    public literature): ``harmonic = sum over reaching seeds of
    1/d(seed, node)`` within ``max_hops``; scale by (N-1)/|seeds| for
    the population estimate.  The KG salience measure that, unlike
    PageRank, rewards being CLOSE to everything rather than being
    linked by hubs — the standard second opinion on entity importance.

    Bit-stability: 1/d terms are summed as L/d with L = lcm(1..
    max_hops) — every addend is an integer-valued double, so the sum
    is EXACT under any partitioning/order; one final division by L.

    Scale shape: multi-source BFS with state keyed (seed, node) —
    frontier join edges + anti-join visited per round (O(hops)
    shuffles, work O(seeds x edges-touched), never O(paths)); the
    final rollup is one node-keyed agg.  Seeds are a small sample at
    corpus scale, so state stays |seeds| x |reached|."""
    import math

    edges = _directed(edges, direction)
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col("node").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("seed", "node")
    for h in range(1, max_hops + 1):
        nxt, m = checkpoint_observed(
            frontier.join(e, frontier["node"] == e["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("hops", F.lit(h)),
            n=F.count(F.lit(1)),
        )
        if not m["n"]:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("seed", "node")
    lcm = math.lcm(*range(1, max_hops + 1))
    return (
        dist.filter(F.col("hops") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            (F.sum(F.lit(float(lcm)) / F.col("hops")) / F.lit(float(lcm))).alias(
                "harmonic"
            ),
        )
        .orderBy("node")
    )


def harmonic_centrality_sql(
    edges_cte: str,
    seeds_sql: str,
    max_hops: int = 4,
    direction: str = "undirected",
) -> str:
    """DuckDB twin: capped recursive walk keyed (seed, node) +
    min-hops per pair + the identical exact-integer harmonic sum.
    ``edges_cte`` defines ``edges(src, dst)``; ``seeds_sql`` selects a
    ``node`` column (see bfs_hops_sql on the em MATERIALIZED wrap)."""
    import math

    # single walk reference per recursive step (DuckDB restriction —
    # see bfs_hops_sql): undirected doubles em, step stays forward
    step = {
        "forward": (
            "SELECT w.seed, w.hops + 1, e.dst FROM walk w "
            "JOIN em e ON w.node = e.src"
        ),
        "reverse": (
            "SELECT w.seed, w.hops + 1, e.src FROM walk w "
            "JOIN em e ON w.node = e.dst"
        ),
        "undirected": (
            "SELECT w.seed, w.hops + 1, e.dst FROM walk w "
            "JOIN em e ON w.node = e.src"
        ),
    }[direction]
    em = (
        "SELECT src, dst FROM edges UNION SELECT dst, src FROM edges"
        if direction == "undirected"
        else "SELECT src, dst FROM edges"
    )
    lcm = math.lcm(*range(1, max_hops + 1))
    return f"""
WITH RECURSIVE {edges_cte.strip()},
em AS MATERIALIZED ({em}),
seeds AS ({seeds_sql.strip()}),
walk(seed, hops, node) AS (
  SELECT node, 0, node FROM seeds
  UNION
  {step.replace("FROM walk w", f"FROM (SELECT * FROM walk WHERE hops < {max_hops}) w")}),
dist AS (
  SELECT seed, node, min(hops) AS hops FROM walk GROUP BY seed, node)
SELECT node, count(*)::BIGINT AS n_sources,
  sum({float(lcm)} / hops) / {float(lcm)} AS harmonic
FROM dist WHERE hops > 0
GROUP BY node ORDER BY node
"""


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """(a, b, support) — edges surviving ``rounds`` of k-truss peeling
    (Cohen 2008, public literature): iteratively drop every edge in
    fewer than k-2 triangles among still-live edges.  The EDGE analogue
    of k-core and a stricter community backbone — a noisy sameAs edge
    survives k-core easily (its endpoints are busy) but dies in the
    truss because no third entity corroborates it; the classic
    KG-cleanup filter before canonicalization trusts an edge.

    ``rounds`` is a FIXED cap (kcore convention) so the unrolled-CTE
    oracle computes identically; ``support`` is the last round's count
    on the surviving subgraph.  Per round: one ordered closure join
    enumerates each triangle once (a<b<c), one explode-to-3-edges agg
    scores support, one semi-join filter peels — all key-partitioned,
    no windows; the wedge join is the triangle_count shape (id-order
    here; see its docstring for the degree-order hub mitigation at
    web scale)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sup = None
    for _ in range(rounds):
        e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.a") == F.col("e1.b"))
            .join(
                e3,
                (F.col("e3.a") == F.col("e1.a"))
                & (F.col("e3.b") == F.col("e2.b")),
            )
            .select(
                F.col("e1.a").alias("x"),
                F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"),
            )
        )
        edges3 = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        )
        sup = edges3.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        und = (
            und.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return (
        und.join(sup, ["a", "b"], "left")
        .select(
            "a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support")
        )
        .orderBy("a", "b")
    )


def ktruss_sql(edges_cte: str, k: int = 3, rounds: int = 3) -> str:
    """DuckDB twin: the identical peel rounds unrolled as chained
    MATERIALIZED CTEs.  ``edges_cte`` defines ``edges(src, dst)``."""
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)"""
    ]
    prev = "e0"
    sup = None
    for i in range(1, rounds + 1):
        sup = f"s{i}"
        parts.append(f"""
t{i} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {prev} e1
  JOIN {prev} e2 ON e2.a = e1.b
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b),
s{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS support FROM (
    SELECT x AS a, y AS b FROM t{i}
    UNION ALL SELECT y, z FROM t{i}
    UNION ALL SELECT x, z FROM t{i})
  GROUP BY a, b),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  LEFT JOIN s{i} s ON e.a = s.a AND e.b = s.b
  WHERE coalesce(s.support, 0) >= {k - 2})""")
        prev = f"e{i}"
    return f"""
WITH {edges_cte.strip()},
{",".join(parts)}
SELECT e.a, e.b, coalesce(s.support, 0)::BIGINT AS support
FROM {prev} e LEFT JOIN {sup} s ON e.a = s.a AND e.b = s.b
ORDER BY e.a, e.b
"""


def wl_colors(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(node, color) — Weisfeiler-Leman color refinement over the
    directed graph (1-WL / color refinement, public literature; the
    same refinement :mod:`..operators.skolem` applies to bnodes, here
    as a general structural-role signature): every node starts with
    one color, then each round rehashes (own color | sorted multiset
    of direction-tagged neighbor colors).  Nodes sharing a color after
    k rounds have isomorphic k-hop unrolled neighborhoods — the
    template-page / generated-subgraph detector (a color with
    thousands of members in an entity graph is a factory pattern, not
    organic structure), and the node feature WL-kernel methods consume.

    Scale shape: per round ONE node-keyed aggregation over the doubled
    direction-tagged adjacency (sorted-list agg, then md5 as a
    PROJECTION after the agg — the engineering notes rule) + a left join back for
    isolated-from / sink nodes; O(iters) shuffles on the same key."""
    e = edges.select("src", "dst").distinct()
    adj = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("nbr"),
                 F.lit("o").alias("d"))
        .unionByName(
            e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"),
                     F.lit("i").alias("d"))
        )
        .localCheckpoint(eager=True)
    )
    colors = adj.select("node").distinct().withColumn("color", F.lit("0"))
    for _ in range(iters):
        msgs = adj.join(
            colors.select(F.col("node").alias("nbr"),
                          F.col("color").alias("nc")),
            "nbr",
        ).select(
            "node", F.concat_ws(":", F.col("d"), F.col("nc")).alias("tok")
        )
        folded = msgs.groupBy("node").agg(
            F.array_join(F.array_sort(F.collect_list("tok")), ",").alias(
                "toks"
            )
        )
        colors = (
            colors.join(folded, "node", "left")
            .select(
                "node",
                F.md5(
                    F.concat_ws("|", F.col("color"), F.coalesce("toks", F.lit("")))
                ).alias("color"),
            )
            .localCheckpoint(eager=True)
        )
    return colors.orderBy("node")


def wl_colors_sql(edges_cte: str, iters: int = 2) -> str:
    """DuckDB twin: identical rounds unrolled (string_agg ORDER BY =
    Spark's sorted array_join; md5 applied to the same concat)."""
    rounds = []
    prev = "c0"
    for i in range(1, iters + 1):
        rounds.append(f"""
m{i} AS MATERIALIZED (
  SELECT a.node,
         string_agg(a.d || ':' || p.color, ',' ORDER BY a.d || ':' || p.color)
           AS toks
  FROM adj a JOIN {prev} p ON a.nbr = p.node
  GROUP BY a.node),
c{i} AS MATERIALIZED (
  SELECT c.node, md5(c.color || '|' || coalesce(m.toks, '')) AS color
  FROM {prev} c LEFT JOIN m{i} m ON c.node = m.node)""")
        prev = f"c{i}"
    return f"""
WITH {edges_cte.strip()},
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
adj AS MATERIALIZED (
  SELECT src AS node, dst AS nbr, 'o' AS d FROM e
  UNION ALL SELECT dst, src, 'i' FROM e),
c0 AS MATERIALIZED (SELECT DISTINCT node, '0' AS color FROM adj),
{",".join(rounds)}
SELECT node, color FROM {prev} ORDER BY node
"""


# --------------------------------------------------------------------- #
# link prediction (Adamic-Adar family)
# --------------------------------------------------------------------- #


def link_prediction(
    edges: DataFrame,
    min_shared: int = 2,
    hub_cap: int = 50,
) -> DataFrame:
    """(node_a, node_b, common_neighbors, adamic_adar, resource_alloc,
    pref_attach) — the classical link-prediction heuristics (Liben-
    Nowell & Kleinberg 2003; Adamic & Adar 2003; Zhou et al. 2009,
    public literature) for *unlinked* node pairs sharing >=
    ``min_shared`` common neighbours in the undirected simple graph:

    * ``common_neighbors`` = |N(a) ∩ N(b)|
    * ``adamic_adar``      = Σ_w 1/ln(deg(w))   (only deg(w) >= 2 terms)
    * ``resource_alloc``   = Σ_w 1/deg(w)
    * ``pref_attach``      = deg(a) * deg(b)

    In the KG this ranks missing-edge candidates — which canonical
    entities the extraction pipeline *should* have related but didn't —
    the graph-completion twin of ``neighbor_jaccard``'s alias detector
    (that one finds nodes that should be the SAME; this finds nodes
    that should be CONNECTED).

    Plan: identical wedge machinery to ``neighbor_jaccard`` — hub
    neighbours (degree > ``hub_cap``) are dropped BEFORE the wedge
    self-join so per-key fan-out is bounded, all degrees are over the
    filtered neighbour table (internally consistent), the wedge carries
    the shared neighbour ``w`` so its degree joins by broadcast, and
    already-present edges leave via one anti-join.  At 100 TB the wedge
    join is the only super-linear stage, capped at ``hub_cap**2`` per
    key."""
    und = _und(edges)
    nbr = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(
            und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )
        .localCheckpoint(eager=True)
    )
    hubs = (
        nbr.groupBy("nbr")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > hub_cap)
        .select("nbr")
    )
    filt = nbr.join(F.broadcast(hubs), "nbr", "left_anti").localCheckpoint(
        eager=True
    )
    deg = filt.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    x, y = filt.alias("x"), filt.alias("y")
    wedges = x.join(
        y,
        (F.col("x.nbr") == F.col("y.nbr"))
        & (F.col("x.node") < F.col("y.node")),
    ).select(
        F.col("x.node").alias("node_a"),
        F.col("y.node").alias("node_b"),
        F.col("x.nbr").alias("w"),
    )
    degw = deg.select(F.col("node").alias("w"), F.col("deg").alias("deg_w"))
    scored = (
        wedges.join(F.broadcast(degw), "w", "left")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(
                F.when(
                    F.col("deg_w") >= 2,
                    F.lit(1.0) / F.log(F.col("deg_w").cast("double")),
                ).otherwise(0.0)
            ).alias("adamic_adar"),
            F.sum(
                F.when(
                    F.col("deg_w") >= 1,
                    F.lit(1.0) / F.col("deg_w").cast("double"),
                ).otherwise(0.0)
            ).alias("resource_alloc"),
        )
        .filter(F.col("common_neighbors") >= min_shared)
    )
    # predict NEW links only: drop pairs already adjacent
    novel = scored.join(
        und,
        (F.col("node_a") == F.col("a")) & (F.col("node_b") == F.col("b")),
        "left_anti",
    )
    return (
        novel.join(
            F.broadcast(
                deg.select(
                    F.col("node").alias("node_a"), F.col("deg").alias("deg_a")
                )
            ),
            "node_a",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("node").alias("node_b"), F.col("deg").alias("deg_b")
                )
            ),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            "adamic_adar",
            "resource_alloc",
            (F.col("deg_a") * F.col("deg_b"))
            .cast("long")
            .alias("pref_attach"),
        )
        .orderBy("node_a", "node_b")
    )


def link_prediction_sql(
    edges_cte: str, min_shared: int = 2, hub_cap: int = 50
) -> str:
    """DuckDB twin; ``edges_cte`` must define ``edges(src, dst)``."""
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
nbr AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und),
hubs AS (
  SELECT nbr FROM nbr GROUP BY nbr HAVING count(*) > {hub_cap}),
filt AS MATERIALIZED (
  SELECT n.node, n.nbr FROM nbr n LEFT JOIN hubs h USING (nbr)
  WHERE h.nbr IS NULL),
deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS deg FROM filt GROUP BY node),
wedges AS (
  SELECT x.node AS node_a, y.node AS node_b, x.nbr AS w
  FROM filt x JOIN filt y ON x.nbr = y.nbr AND x.node < y.node),
scored AS (
  SELECT node_a, node_b, count(*)::BIGINT AS common_neighbors,
    sum(CASE WHEN d.deg >= 2 THEN 1.0 / ln(d.deg::DOUBLE) ELSE 0.0 END)
      AS adamic_adar,
    sum(CASE WHEN d.deg >= 1 THEN 1.0 / d.deg::DOUBLE ELSE 0.0 END)
      AS resource_alloc
  FROM wedges LEFT JOIN deg d ON wedges.w = d.node
  GROUP BY node_a, node_b
  HAVING count(*) >= {min_shared})
SELECT s.node_a, s.node_b, s.common_neighbors, s.adamic_adar,
  s.resource_alloc, (da.deg * db.deg)::BIGINT AS pref_attach
FROM scored s
LEFT JOIN und u ON s.node_a = u.a AND s.node_b = u.b
JOIN deg da ON s.node_a = da.node
JOIN deg db ON s.node_b = db.node
WHERE u.a IS NULL
ORDER BY s.node_a, s.node_b
"""


# --------------------------------------------------------------------- #
# node2vec second-order biased walks
# --------------------------------------------------------------------- #


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 3,
    p: float = 2.0,
    q: float = 0.5,
    salt: str = "n2v",
) -> DataFrame:
    """(walk_id, step, node) — second-order biased random walks (Grover
    & Leskovec 2016 node2vec, public literature), one walk per node
    with out-edges: the next hop from ``cur`` given the previous node
    ``prev`` weights each neighbour ``x`` by 1/p if ``x == prev``
    (return), 1 if ``x`` is adjacent to ``prev`` (BFS-ish stay-local),
    1/q otherwise (DFS-ish explore) — the (p, q) dial that makes
    node2vec interpolate between structural and homophily embeddings,
    which the engine's first-order ``random_walks`` cannot express.

    Determinism: the weighted choice is inverse-CDF sampling with a
    salted-md5 uniform (``u = hexint(md5(...))/65536`` — exact
    dyadic), and the defaults p=2, q=1/2 make every weight an exact
    binary double, so cumulative sums, totals and the pick comparison
    are all EXACT IEEE arithmetic — walks replay bit-for-bit across
    engines, runs and partitionings.

    Plan: per step ONE frontier equi-join onto the checkpointed
    neighbour table, ONE broadcast-shaped left join onto the undirected
    edge set (the d=1 probe), and ONE per-walk window (bounded by
    out-degree) for the cumulative-weight pick — ``walk_len`` rounds,
    frontier-sized shuffles, never path enumeration."""
    from pyspark.sql import Window

    dedges = edges.filter(F.col("src") != F.col("dst")).distinct()
    ranked = (
        dedges.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")),
        )
        .withColumn(
            "out_deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=False)
    )
    und = dedges.select(
        F.least("src", "dst").alias("ua"), F.greatest("src", "dst").alias("ub")
    ).distinct()
    starts = dedges.select(F.col("src").alias("walk_id")).distinct()
    out = starts.select(
        "walk_id", F.lit(0).alias("step"), F.col("walk_id").alias("node")
    )
    # step 1 is first-order (no prev yet): md5 % out_deg rank pick
    pick1 = (
        starts.join(ranked, starts["walk_id"] == ranked["src"])
        .filter(
            F.col("rank")
            == F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}:1:"), F.col("walk_id"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % F.col("out_deg")
            + 1
        )
        .select(
            "walk_id",
            F.col("src").alias("prev"),
            F.col("dst").alias("cur"),
        )
    )
    frontier = pick1.localCheckpoint(eager=False)
    out = out.unionByName(
        frontier.select(
            "walk_id", F.lit(1).alias("step"), F.col("cur").alias("node")
        )
    )
    inv_p, inv_q = 1.0 / p, 1.0 / q
    for s in range(2, walk_len + 1):
        cand = (
            frontier.join(ranked, frontier["cur"] == ranked["src"])
            .select("walk_id", "prev", "cur", F.col("dst").alias("x"))
            .join(
                und,
                (F.least("prev", "x") == F.col("ua"))
                & (F.greatest("prev", "x") == F.col("ub")),
                "left",
            )
            .select(
                "walk_id",
                "prev",
                "cur",
                "x",
                F.when(F.col("x") == F.col("prev"), F.lit(inv_p))
                .when(F.col("ua").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(inv_q))
                .alias("alpha"),
            )
        )
        wcum = Window.partitionBy("walk_id").orderBy("x")
        wall = Window.partitionBy("walk_id")
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{salt}:{s}:"),
                            F.col("walk_id"),
                            F.lit(":"),
                            F.col("cur"),
                            F.lit(":"),
                            F.col("prev"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("double")
            / 65536.0
        )
        picked = (
            cand.withColumn("cum", F.sum("alpha").over(wcum))
            .withColumn("total", F.sum("alpha").over(wall))
            .withColumn("target", u * F.col("total"))
            .filter(
                (F.col("cum") - F.col("alpha") <= F.col("target"))
                & (F.col("target") < F.col("cum"))
            )
            .select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("x").alias("cur"),
            )
        )
        frontier = picked.localCheckpoint(eager=False)
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(s).alias("step"), F.col("cur").alias("node")
            )
        )
    return out.orderBy("walk_id", "step")


def node2vec_walks_sql(
    edges_cte: str,
    walk_len: int = 3,
    p: float = 2.0,
    q: float = 0.5,
    salt: str = "n2v",
) -> str:
    """DuckDB twin: identical md5 uniforms, exact-binary weights,
    identical window cumulative-pick — steps unrolled as CTEs."""
    inv_p, inv_q = 1.0 / p, 1.0 / q
    steps = []
    finals = [
        "SELECT walk_id, 0 AS step, walk_id AS node FROM starts",
        "SELECT walk_id, 1 AS step, cur AS node FROM f1",
    ]
    for s in range(2, walk_len + 1):
        steps.append(
            f"""c{s} AS (
  SELECT f.walk_id, f.prev, f.cur, r.dst AS x,
    CASE WHEN r.dst = f.prev THEN {inv_p}
         WHEN u.ua IS NOT NULL THEN 1.0
         ELSE {inv_q} END AS alpha
  FROM f{s - 1} f JOIN ranked r ON f.cur = r.src
  LEFT JOIN und u
    ON least(f.prev, r.dst) = u.ua AND greatest(f.prev, r.dst) = u.ub),
w{s} AS (
  SELECT *,
    sum(alpha) OVER (PARTITION BY walk_id ORDER BY x) AS cum,
    sum(alpha) OVER (PARTITION BY walk_id) AS total,
    (('0x' || substr(md5('{salt}:{s}:' || walk_id || ':' || cur || ':'
        || prev), 1, 4))::BIGINT / 65536.0) * sum(alpha)
      OVER (PARTITION BY walk_id) AS target
  FROM c{s}),
f{s} AS (
  SELECT walk_id, cur AS prev, x AS cur FROM w{s}
  WHERE cum - alpha <= target AND target < cum)"""
        )
        finals.append(f"SELECT walk_id, {s} AS step, cur AS node FROM f{s}")
    body = "\n  UNION ALL\n  ".join(finals)
    chain = ",\n".join(steps)
    if chain:
        chain = ",\n" + chain
    return f"""
WITH {edges_cte.strip()},
dedges AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
ranked AS MATERIALIZED (
  SELECT src, dst,
    row_number() OVER (PARTITION BY src ORDER BY dst) AS rank,
    count(*) OVER (PARTITION BY src) AS out_deg
  FROM dedges),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS ua, greatest(src, dst) AS ub
  FROM dedges),
starts AS (SELECT DISTINCT src AS walk_id FROM dedges),
f1 AS (
  SELECT s.walk_id, r.src AS prev, r.dst AS cur
  FROM starts s JOIN ranked r ON s.walk_id = r.src
  WHERE r.rank = ('0x' || substr(md5('{salt}:1:' || s.walk_id), 1, 4))::BIGINT
                 % r.out_deg + 1){chain}
SELECT * FROM (
  {body}
) ORDER BY walk_id, step
"""


# --------------------------------------------------------------------- #
# weighted shortest paths (bounded Bellman-Ford)
# --------------------------------------------------------------------- #


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    direction: str = "forward",
    weight_mod: int = 7,
    salt: str = "w",
) -> DataFrame:
    """(node, dist) — minimal WEIGHTED distance from any seed after
    ``rounds`` Bellman-Ford relaxation rounds (unreached nodes absent):
    the cost-aware complement to :func:`bfs_hops` (hop counts treat a
    high-confidence link and a tenuous one alike; weighted distance is
    what entity-importance decay, citation cost and trust attenuation
    actually need).

    Weights are DERIVED, not stored: ``w(u, v) = 1 + hexint(md5(
    salt:u:v)[:2]) % weight_mod`` — deterministic integers in
    [1, weight_mod], so every path sum is EXACT integer arithmetic and
    the oracle replays bit-for-bit (the salted-md5 convention of
    ``random_walks``); a production caller passes a real weight column
    by pre-joining it onto ``edges`` — the relaxation loop is
    weight-source-agnostic.

    ``rounds`` bounds path length (Bellman-Ford semantics: after k
    rounds every shortest path of <= k edges is final), the capped-
    fixpoint convention shared with ``kcore``/``bfs_hops``.  Per round:
    ONE dist⋈edges equi-join + ONE min-aggregation (map-side
    combinable) + an eager checkpoint — state is O(nodes), work is
    O(edges) per round, never path enumeration; at cluster scale the
    edge table is pre-partitioned by ``src`` so the relaxation join
    reuses one exchange."""
    edges = _directed(edges, direction)
    w = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col("src"), F.col("dst"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % weight_mod
        + 1
    )
    e = (
        edges.select("src", "dst")
        .distinct()
        .select("src", "dst", w.alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.orderBy("node")


def weighted_sssp_sql(
    edges_cte: str,
    seeds_sql: str,
    rounds: int = 6,
    direction: str = "forward",
    weight_mod: int = 7,
    salt: str = "w",
) -> str:
    """DuckDB twin: identical md5-derived integer weights, relaxation
    rounds unrolled as chained CTEs.  ``edges_cte`` must define
    ``edges(src, dst)``; ``seeds_sql`` must select a ``node`` column
    (reading from ``em`` is fine)."""
    flip = {
        "forward": "SELECT src, dst FROM edges",
        "reverse": "SELECT dst AS src, src AS dst FROM edges",
        "undirected": "SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges",
    }[direction]
    parts = [
        edges_cte.strip(),
        f"""em AS MATERIALIZED (
  SELECT src, dst,
    ('0x' || substr(md5('{salt}' || ':' || src || ':' || dst), 1, 2))::BIGINT
      % {weight_mod} + 1 AS w
  FROM (SELECT DISTINCT src, dst FROM ({flip})))""",
        f"""d0 AS MATERIALIZED (
  SELECT DISTINCT node, 0::BIGINT AS dist FROM ({seeds_sql.strip()}))""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i - 1} d JOIN em e ON d.node = e.src)
  GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, dist FROM d{rounds} ORDER BY node"
    )


# --------------------------------------------------------------------- #
# betweenness centrality (Brandes, sampled seeds)
# --------------------------------------------------------------------- #


def betweenness_approx(
    edges: DataFrame, seed_mod: int = 4, max_depth: int = 4
) -> DataFrame:
    """(node, betweenness) — Brandes dependency accumulation (Brandes
    2001; seed-sampled per Brandes & Pich 2007, public literature) over
    the undirected simple graph, from the deterministic seed sample
    ``hexint(md5(node)[:4]) % seed_mod == 0``: the broker-entity
    signal — which nodes sit ON the shortest paths between others
    (cut vertices between topic clusters, chokepoint entities an
    extraction error would disconnect) — that degree/PageRank/harmonic
    centrality all miss.

    Exact Brandes per seed, truncated at ``max_depth`` (paths longer
    than the cap contribute nothing — the truncated-betweenness
    variant; fixture tests pin caps >= graph diameter so the fixture
    value is exact):

      forward, depth d = 1..D:  sigma(s, v) = number of shortest
        s->v paths = sum of sigma over depth-(d-1) neighbours, first
        time v is reached (BFS layers; one frontier⋈edges join + one
        (seed, node) grouped sum + one anti-join per depth);
      backward, depth d = D..1:  delta(s, v) += sigma(s,v)/sigma(s,w)
        * (1 + delta(s, w)) over depth-(d+1) shortest-path successors
        w (one layer⋈edges join + one grouped sum per depth);
      betweenness(v) = sum over seeds s != v of delta(s, v) / 2
        (undirected pair double-count halved).

    All state is (seed, node)-keyed — seeds ride the key, so every
    seed's BFS/accumulation shares the same 2*D rounds of
    key-partitioned joins and map-side-combinable sums; no window, no
    driver materialization, never path enumeration (sigma counts paths
    without listing them).  At corpus scale the sample rate (1/
    seed_mod) is the standard accuracy/cost dial and the edge table is
    pre-partitioned by node so every round reuses one exchange.
    sigma stays exact integer; delta is the only float."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nbr = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    seed_pick = (
        F.conv(F.substring(F.md5(F.col("node")), 1, 4), 16, 10).cast("long")
        % seed_mod
        == 0
    )
    seeds = nbr.select("node").distinct().filter(seed_pick)
    # forward: layers[d] = (seed, node, sigma), reached = union so far
    layer = seeds.select(
        F.col("node").alias("seed"),
        "node",
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    layers = [layer]
    reached = layer.select("seed", "node")
    for _ in range(1, max_depth + 1):
        layer = (
            layer.join(nbr, "node")
            .groupBy("seed", F.col("nbr").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(reached, ["seed", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        layers.append(layer)
        reached = reached.unionByName(layer.select("seed", "node")).localCheckpoint(
            eager=True
        )
    # backward: delta over layers D-1 .. 0; delta[D] = 0
    delta = layers[max_depth].select(
        "seed", "node", F.lit(0.0).alias("delta")
    )
    acc = delta
    for d in range(max_depth - 1, -1, -1):
        below = delta.join(
            layers[d + 1].select("seed", "node", F.col("sigma").alias("sig_w")),
            ["seed", "node"],
        ).select(
            "seed",
            F.col("node").alias("w"),
            ((F.lit(1.0) + F.col("delta")) / F.col("sig_w")).alias("ratio"),
        )
        contrib = (
            layers[d]
            .join(nbr, "node")
            .join(
                below,
                (F.col("nbr") == F.col("w"))
                & (layers[d]["seed"] == below["seed"]),
            )
            .groupBy(layers[d]["seed"].alias("seed"), "node")
            .agg(F.sum(F.col("sigma") * F.col("ratio")).alias("c"))
        )
        delta = (
            layers[d]
            .select("seed", "node")
            .join(contrib, ["seed", "node"], "left")
            .select(
                "seed", "node", F.coalesce("c", F.lit(0.0)).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
        acc = acc.unionByName(delta)
    return (
        acc.filter(F.col("seed") != F.col("node"))
        .groupBy("node")
        .agg((F.sum("delta") / F.lit(2.0)).alias("betweenness"))
        .filter(F.col("betweenness") > 0.0)
        .orderBy("node")
    )


def betweenness_approx_sql(
    edges_cte: str, seed_mod: int = 4, max_depth: int = 4
) -> str:
    """DuckDB twin: identical md5 seed sample, forward layers and
    backward accumulation unrolled as chained CTEs (every layer CTE
    MATERIALIZED — read by the next layer, the reached union and the
    backward pass; see the engineering notes on DuckDB CTE re-inlining)."""
    D = max_depth
    parts = [
        edges_cte.strip(),
        """und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)""",
        """nbr AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und)""",
        f"""l0 AS MATERIALIZED (
  SELECT node AS seed, node, 1::BIGINT AS sigma
  FROM (SELECT DISTINCT node FROM nbr)
  WHERE ('0x' || substr(md5(node), 1, 4))::BIGINT % {seed_mod} = 0)""",
        "r0 AS MATERIALIZED (SELECT seed, node FROM l0)",
    ]
    for d in range(1, D + 1):
        parts.append(
            f"""l{d} AS MATERIALIZED (
  SELECT f.seed, n.nbr AS node, sum(f.sigma) AS sigma
  FROM l{d - 1} f JOIN nbr n ON f.node = n.node
  LEFT JOIN r{d - 1} r ON f.seed = r.seed AND n.nbr = r.node
  WHERE r.node IS NULL
  GROUP BY f.seed, n.nbr)"""
        )
        parts.append(
            f"""r{d} AS MATERIALIZED (
  SELECT seed, node FROM r{d - 1} UNION ALL SELECT seed, node FROM l{d})"""
        )
    parts.append(
        f"d{D} AS MATERIALIZED (SELECT seed, node, 0.0 AS delta FROM l{D})"
    )
    for d in range(D - 1, -1, -1):
        parts.append(
            f"""d{d} AS MATERIALIZED (
  SELECT l.seed, l.node, coalesce(c.c, 0.0) AS delta
  FROM l{d} l LEFT JOIN (
    SELECT l.seed, l.node, sum(l.sigma * ((1.0 + b.delta) / w.sigma)) AS c
    FROM l{d} l
    JOIN nbr n ON l.node = n.node
    JOIN d{d + 1} b ON b.seed = l.seed AND b.node = n.nbr
    JOIN l{d + 1} w ON w.seed = l.seed AND w.node = n.nbr
    GROUP BY l.seed, l.node) c
  ON l.seed = c.seed AND l.node = c.node)"""
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT seed, node, delta FROM d{d}" for d in range(D + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, sum(delta) / 2.0 AS betweenness
FROM ({union})
WHERE seed <> node
GROUP BY node
HAVING sum(delta) / 2.0 > 0.0
ORDER BY node"""
    )


# --------------------------------------------------------------------- #
# aggregation-based graph summarization (quotient over WL roles)
# --------------------------------------------------------------------- #


def graph_summary(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(src_role, dst_role, n_edges, n_src_nodes, n_dst_nodes) — the
    quotient graph of the directed edge table under Weisfeiler-Leman
    structural roles (aggregation-based graph summarization, Tian,
    Hankins & Patel SIGMOD 2008 / SNAP — public literature): every WL
    color class collapses to one supernode, every edge to a
    (src_role, dst_role) superedge with multiplicity.  The million-
    node entity graph becomes a dozen-row schema diagram: which
    structural roles exist, how many members each has, and how roles
    wire to each other — the first artifact to read when auditing an
    extracted KG for template/factory subgraphs.

    Composition: :func:`wl_colors` (O(iters) keyed aggs) -> two
    broadcast-able node->role joins onto the edge list -> one
    (src_role, dst_role) grouped count; role member counts ride a
    role-keyed count joined back.  Every stage key-partitioned and
    map-side combinable; output cardinality is roles², independent of
    graph size."""
    colors = wl_colors(edges, iters).localCheckpoint(eager=True)
    sizes = colors.groupBy("color").agg(F.count(F.lit(1)).alias("n"))
    e = edges.select("src", "dst").distinct()
    summary = (
        e.join(
            colors.select(F.col("node").alias("src"), F.col("color").alias("src_role")),
            "src",
        )
        .join(
            colors.select(F.col("node").alias("dst"), F.col("color").alias("dst_role")),
            "dst",
        )
        .groupBy("src_role", "dst_role")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return (
        summary.join(
            sizes.select(F.col("color").alias("src_role"), F.col("n").alias("n_src_nodes")),
            "src_role",
        )
        .join(
            sizes.select(F.col("color").alias("dst_role"), F.col("n").alias("n_dst_nodes")),
            "dst_role",
        )
        .select("src_role", "dst_role", "n_edges", "n_src_nodes", "n_dst_nodes")
        .orderBy("src_role", "dst_role")
    )


def graph_summary_sql(edges_cte: str, iters: int = 2) -> str:
    """DuckDB twin: the wl_colors round chain (shared generator) + the
    same quotient aggregations."""
    inner = wl_colors_sql(edges_cte, iters)
    return f"""
WITH colors AS MATERIALIZED ({inner.strip().rstrip(";")}),
e AS (SELECT DISTINCT src, dst FROM ({_EDGES_REWRAP.format(cte=edges_cte.strip())})),
sizes AS (SELECT color, count(*)::BIGINT AS n FROM colors GROUP BY color),
summary AS (
  SELECT cs.color AS src_role, cd.color AS dst_role, count(*)::BIGINT AS n_edges
  FROM e
  JOIN colors cs ON e.src = cs.node
  JOIN colors cd ON e.dst = cd.node
  GROUP BY cs.color, cd.color)
SELECT s.src_role, s.dst_role, s.n_edges,
  zs.n AS n_src_nodes, zd.n AS n_dst_nodes
FROM summary s
JOIN sizes zs ON s.src_role = zs.color
JOIN sizes zd ON s.dst_role = zd.color
ORDER BY s.src_role, s.dst_role
"""


# a full query can't sit in a FROM-clause CTE list directly; re-wrap the
# caller's edges CTE into a scalar SELECT for graph_summary_sql
_EDGES_REWRAP = "WITH {cte} SELECT src, dst FROM edges"


def egonet_density(
    edges: DataFrame,
    density_threshold: float = 0.6,
    min_degree: int = 3,
) -> DataFrame:
    """(node, degree, n_tri, ego_density, is_linkfarm) — OddBall-style
    egonet analysis (Akoglu, Mcglohon & Faloutsos, PAKDD 2010, public
    literature): a node whose neighborhood is a near-CLIQUE is the
    signature of a link farm / colluding alias cluster, while honest
    hubs look like stars.  ego_density = e_ego / C(n_ego, 2) with
    e_ego = degree + triangles(v) (each triangle through v is one edge
    between v's neighbors) — density 1.0 for a clique member,
    ~2/(deg+1) for a star center.

    Scale shape: per-node triangle counts from the SAME degree-ordered
    oriented wedge join as ``triangle_count`` (O(m^1.5) total wedge
    work, hub fan-out collapsed), corners exploded to a keyed count;
    everything else is the degree aggregate.  The flag gates on
    ``min_degree`` so trivial 3-cliques don't page anyone."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    keyed = und.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b"
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    fwd = keyed.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=True)
    e1, e2, e3 = fwd.alias("e1"), fwd.alias("e2"), fwd.alias("e3")
    corners = (
        e1.join(e2, F.col("e1.hi") == F.col("e2.lo"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.explode(
                F.array(
                    F.col("e1.lo"), F.col("e1.hi"), F.col("e2.hi")
                )
            ).alias("node")
        )
    )
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    dens = (
        F.lit(2.0)
        * (F.col("degree") + F.coalesce("n_tri", F.lit(0)))
        / (F.col("degree") * (F.col("degree") + 1)).cast("double")
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            dens.alias("ego_density"),
            (
                (dens >= density_threshold)
                & (F.col("degree") >= min_degree)
            ).alias("is_linkfarm"),
        )
        .orderBy("node")
    )


def egonet_density_sql(
    edges_cte: str,
    density_threshold: float = 0.6,
    min_degree: int = 3,
) -> str:
    """DuckDB twin — id-ordered closure join (per-node triangle counts
    are orientation-invariant, same as triangle_count's twin)."""
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS degree FROM
    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node),
corners AS (
  SELECT unnest([e1.a, e1.b, e2.b]) AS node
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
tri AS (SELECT node, count(*)::BIGINT AS n_tri FROM corners GROUP BY node)
SELECT d.node, d.degree, coalesce(t.n_tri, 0)::BIGINT AS n_tri,
  2.0 * (d.degree + coalesce(t.n_tri, 0))
    / (d.degree * (d.degree + 1))::DOUBLE AS ego_density,
  (2.0 * (d.degree + coalesce(t.n_tri, 0))
    / (d.degree * (d.degree + 1))::DOUBLE >= {density_threshold}
   AND d.degree >= {min_degree}) AS is_linkfarm
FROM deg d LEFT JOIN tri t USING (node)
ORDER BY d.node"""


# ---------------------------------------------------------------------------
# Motif significance vs the configuration-model null
# ---------------------------------------------------------------------------


def motif_significance(edges: DataFrame) -> DataFrame:
    """One row (n_nodes, n_edges, observed_triangles,
    expected_triangles, excess_ratio) — observed triangle count
    against the configuration-model expectation
    ``E[T] ~ (Σ d(d-1))^3 / (6 · (2m)^3)`` (Newman's null-model
    estimate from degree moments, public literature): a KG whose
    triangles sit far ABOVE the degree-preserving null has genuine
    community/corroboration structure; a link-farm injection shows up
    as excess the null can't explain, complementing the absolute
    egonet/k-truss detectors with a calibrated baseline.

    Exactness: both moments are integer aggregates (Σd, Σd(d-1)); the
    expectation is a single arithmetic expression over exact BIGINTs
    cast once to double; observed triangles come from the existing
    degree-ordered closure join.  Cost: triangle_count + one degree
    agg."""
    und = _und(edges)
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    moments = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("d").alias("sum_d"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("sum_dd1"),
    )
    tri = triangle_count(edges).select(
        F.col("n_triangles").alias("observed_triangles")
    )
    expected = (
        F.pow(F.col("sum_dd1").cast("double"), 3.0)
        / (6.0 * F.pow(F.col("sum_d").cast("double"), 3.0))
    )
    return (
        moments.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            (F.col("sum_d") / 2).cast("long").alias("n_edges"),
            "observed_triangles",
            expected.alias("expected_triangles"),
            (
                F.col("observed_triangles").cast("double") / expected
            ).alias("excess_ratio"),
        )
    )


def motif_significance_sql(edges_cte: str) -> str:
    """DuckDB twin: identical undirected canonicalization, moments,
    and closure-join triangle count."""
    return f"""
WITH {edges_cte.strip()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
deg AS MATERIALIZED (SELECT a, count(*)::BIGINT AS d FROM sym GROUP BY a),
moments AS (
  SELECT count(*)::BIGINT AS n_nodes, sum(d)::BIGINT AS sum_d,
         sum(d * (d - 1))::BIGINT AS sum_dd1
  FROM deg),
tri AS (
  SELECT count(*)::BIGINT AS observed_triangles
  FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3
    ON e3.a = e1.a AND e3.b = e2.b)
SELECT n_nodes, sum_d // 2 AS n_edges, observed_triangles,
  pow(sum_dd1::DOUBLE, 3.0) / (6.0::DOUBLE * pow(sum_d::DOUBLE, 3.0))
    AS expected_triangles,
  observed_triangles::DOUBLE
    / (pow(sum_dd1::DOUBLE, 3.0)
       / (6.0::DOUBLE * pow(sum_d::DOUBLE, 3.0))) AS excess_ratio
FROM moments CROSS JOIN tri"""
