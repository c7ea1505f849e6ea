from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orionbelt_ontology_builder_spark.fixtures import BASE
from orionbelt_ontology_builder_spark.model import SKOS, TRIPLES_SCHEMA, t_uri
from orionbelt_ontology_builder_spark.operators import fixpoint


def test_transitive_closure_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {(r["src"], r["dst"]) for r in fixpoint.transitive_closure(edges).collect()}
    assert got == {
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d"),
    }


def test_transitive_closure_handles_cycle(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in fixpoint.transitive_closure(edges).collect()}
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], ["src", "dst"]
    )
    comp = {r["node"]: r["component"] for r in fixpoint.connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_connected_components_long_chain(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], ["src", "dst"]
    )
    comp = {r["node"]: r["component"] for r in fixpoint.connected_components(edges).collect()}
    assert set(comp.values()) == {"n000"}
    assert len(comp) == n + 1


def test_expand_superclasses(populated_om):
    from orionbelt_ontology_builder_spark.model import RDFS

    closure = fixpoint.expand_superclasses(populated_om, RDFS.subClassOf)
    got = {(r["cls"], r["ancestor"]) for r in closure.collect()}
    assert (BASE + "Employee", BASE + "Person") in got
    assert (BASE + "Employee", BASE + "Employee") in got  # includes self


def test_broader_cycle_detection(spark, skos_om):
    clean = fixpoint.detect_broader_cycles(skos_om, SKOS.broader)
    assert clean.count() == 0
    cyc = skos_om.unionByName(
        spark.createDataFrame(
            [
                t_uri(BASE + "X", SKOS.broader, BASE + "Y"),
                t_uri(BASE + "Y", SKOS.broader, BASE + "X"),
            ],
            TRIPLES_SCHEMA,
        )
    )
    found = {r["concept"] for r in fixpoint.detect_broader_cycles(cyc, SKOS.broader).collect()}
    assert found == {BASE + "X", BASE + "Y"}


def _uf_components(edges, nodes):
    """Reference union-find; canonical = min member (string order)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    roots = {}
    for n in nodes:
        roots.setdefault(find(n), []).append(n)
    out = {}
    for members in roots.values():
        canon = min(members)
        for m in members:
            out[m] = canon
    return out


def test_connected_components_random_vs_union_find(spark):
    """Pseudo-random graphs (dups, self-loops, chains, cliques, isolated
    pairs) vs a driver-side union-find — both CC entry modes: the
    general path and assume_clean_pairs over deduped src<dst input."""
    import random

    rng = random.Random(20260817)
    for trial in range(6):
        n = rng.randrange(5, 60)
        nodes = [f"n{i:03d}" for i in range(n)]
        m = rng.randrange(1, 2 * n)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(m)
        ]
        # general path tolerates dups + self-loops as-is
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in fixpoint.connected_components(df).collect()
        }
        touched = sorted({u for e in edges for u in e})
        want = _uf_components(edges, touched)
        assert got == want, (trial, edges)

        # clean-pairs path: distinct src<dst only
        clean = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
        if not clean:
            continue
        df2 = spark.createDataFrame(clean, ["src", "dst"])
        got2 = {
            r["node"]: r["component"]
            for r in fixpoint.connected_components(
                df2, assume_clean_pairs=True
            ).collect()
        }
        touched2 = sorted({u for e in clean for u in e})
        want2 = _uf_components(clean, touched2)
        assert got2 == want2, (trial, clean)


@pytest.mark.parametrize("clean", [False, True], ids=["general", "clean_pairs"])
def test_connected_components_evaluates_input_once(spark, clean):
    """The input lineage (in the KG build: the whole LSH-verify chain)
    runs once per input row, not once per symmetrized direction —
    counted by an accumulator inside a UDF that produces ``src``."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(i):
        acc.add(1)
        return f"n{i:04d}"

    n = 200
    edges = spark.range(n).select(
        counted(2 * F.col("id")).alias("src"),
        F.format_string("n%04d", 2 * F.col("id") + 1).alias("dst"),
    )
    comp = {
        r["node"]: r["component"]
        for r in fixpoint.connected_components(
            edges, assume_clean_pairs=clean
        ).collect()
    }
    assert acc.value == n
    assert len(comp) == 2 * n
    assert all(comp[f"n{2 * i + 1:04d}"] == f"n{2 * i:04d}" for i in range(n))


def test_incremental_components_law_random(spark):
    """incremental_components(cc(E), D) == cc(E u D) on a random-ish
    split, including delta-only nodes and component merges."""
    from orionbelt_ontology_builder_spark.operators import fixpoint as FP

    all_edges = [
        (f"n{a}", f"n{b}")
        for a, b in [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (2, 3),
                     (8, 9), (10, 10), (11, 12)]
    ]
    old = spark.createDataFrame(all_edges[:5], ["src", "dst"])
    delta = spark.createDataFrame(all_edges[5:], ["src", "dst"])
    full = spark.createDataFrame(all_edges, ["src", "dst"])
    inc = {(r["node"], r["component"]) for r in FP.incremental_components(
        FP.connected_components(old), delta).collect()}
    exact = {(r["node"], r["component"])
             for r in FP.connected_components(full).collect()}
    assert inc == exact


def test_incremental_components_no_delta_is_identity(spark):
    from orionbelt_ontology_builder_spark.operators import fixpoint as FP

    old = spark.createDataFrame([("a", "b"), ("c", "d")], ["src", "dst"])
    cc0 = FP.connected_components(old)
    empty = spark.createDataFrame([], "src string, dst string")
    inc = {(r["node"], r["component"])
           for r in FP.incremental_components(cc0, empty).collect()}
    assert inc == {(r["node"], r["component"]) for r in cc0.collect()}


def test_resolve_pointers_doubling_matches_oracle(spark):
    import duckdb

    from orionbelt_ontology_builder_spark.operators import fixpoint as FP

    # chain of length 5 resolves in 3 doubling rounds (2^3 = 8 >= 5)
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
            ("x", "f")]
    links = spark.createDataFrame(rows, "node string, nxt string")
    got = sorted(tuple(r) for r in
                 FP.resolve_pointers(links, max_rounds=3).collect())
    assert ("a", "f", 5) in got and ("x", "f", 1) in got
    vals = ",".join(f"('{n}','{x}')" for n, x in rows)
    sql = FP.resolve_pointers_sql(
        f"links(node, nxt) AS (VALUES {vals})", max_rounds=3
    )
    con = duckdb.connect()
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    con.close()
    assert got == want


# ------------------------------------------------------------------ #
# incremental transitive closure (delta maintenance)
# ------------------------------------------------------------------ #


def _pairs(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def test_incremental_closure_equals_full_recompute(spark):
    base = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    # delta bridges the two components AND chains two new edges
    delta = _edges(spark, [("c", "x"), ("y", "z")])
    closed = fixpoint.transitive_closure(base)
    inc = fixpoint.incremental_closure(closed, delta)
    full = fixpoint.transitive_closure(base.unionByName(delta))
    assert _pairs(inc) == _pairs(full)
    # the bridge really went through: a reaches z via 2 delta edges
    assert ("a", "z") in _pairs(inc)


def test_incremental_closure_cycle_delta(spark):
    base = _edges(spark, [("a", "b"), ("b", "c")])
    delta = _edges(spark, [("c", "a")])  # creates a 3-cycle
    inc = fixpoint.incremental_closure(
        fixpoint.transitive_closure(base), delta
    )
    full = fixpoint.transitive_closure(base.unionByName(delta))
    assert _pairs(inc) == _pairs(full)
    assert ("a", "a") in _pairs(inc)


def test_incremental_closure_empty_delta_is_identity(spark):
    base = _edges(spark, [("a", "b"), ("b", "c")])
    closed = fixpoint.transitive_closure(base)
    inc = fixpoint.incremental_closure(closed, _edges(spark, []).limit(0))
    assert _pairs(inc) == _pairs(closed)


# ------------------------------------------------------------------ #
# the checkpoint-and-observe loop driver
# ------------------------------------------------------------------ #


def _counting_checkpoints(monkeypatch):
    calls = []
    real = fixpoint.checkpoint_observed

    def counted(df, **metrics):
        calls.append(1)
        return real(df, **metrics)

    monkeypatch.setattr(fixpoint, "checkpoint_observed", counted)
    return calls


def _doubling_step(closure):
    grown = (
        closure.alias("a")
        .join(closure.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
    )
    return fixpoint.union_new(closure, grown, ["src", "dst"])


def test_converge_matches_hand_written_loop(spark, monkeypatch):
    path = _edges(spark, [(f"n{i}", f"n{i + 1}") for i in range(4)])
    calls = _counting_checkpoints(monkeypatch)
    got, converged = fixpoint.converge(
        path.localCheckpoint(eager=True), _doubling_step
    )
    assert converged
    # hops 2, then 3-4, then a round that adds nothing
    assert len(calls) == 3
    # the probe loop the driver replaces: checkpoint, then count
    want = path.localCheckpoint(eager=True)
    n = want.count()
    while True:
        want = (
            want.unionByName(_doubling_step(want)[0].select("src", "dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if want.count() == n:
            break
        n = want.count()
    assert _pairs(got.select("src", "dst")) == _pairs(want)


def test_converge_stops_at_max_rounds_unconverged(spark, monkeypatch):
    calls = _counting_checkpoints(monkeypatch)

    def grow(df):
        return df.select(F.col("v") + 1).toDF("v"), F.lit(True)

    out, converged = fixpoint.converge(
        spark.range(4).select(F.lit(0).alias("v")), grow, max_rounds=3
    )
    assert not converged
    assert len(calls) == 3
    assert {r["v"] for r in out.collect()} == {3}


def test_converge_empty_frame_is_converged(spark):
    out, converged = fixpoint.converge(
        spark.range(0).toDF("v"), lambda df: (df, F.lit(True))
    )
    assert converged
    assert out.count() == 0


@pytest.mark.parametrize("cap", ["SCC_MAX_PEELS", "SCC_MAX_FLOOD"])
def test_scc_cap_raises(spark, monkeypatch, cap):
    from orionbelt_ontology_builder_spark.operators import graphstats

    # z feeds the a<->b cycle: z's colour floods it, so the cycle peels
    # in a second round, after colour flooding that takes > 1 round
    edges = _edges(spark, [("z", "a"), ("a", "b"), ("b", "a")])
    monkeypatch.setattr(graphstats, cap, 1)
    with pytest.raises(RuntimeError, match=cap):
        graphstats.scc(edges)
