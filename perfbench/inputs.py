"""Seeded inputs and their independent references.

Everything here is a pure function of the seed.  The program under test
receives only the generated DataFrames; the references (ground-truth
triples, DuckDB twins of the editor graphs) are derived separately and
are read only by the correctness checks.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

from orionbelt_ontology_builder_spark.model import (
    GIST_NS,
    OWL,
    PAGES_SCHEMA,
    RDF,
    RDFS,
    SCHEMA_NS,
    SKOS,
    XSD,
    t_lit,
    t_uri,
)
from orionbelt_ontology_builder_spark.pipeline import pages as P
from orionbelt_ontology_builder_spark.pipeline.textextract import html_to_text
from orionbelt_ontology_builder_spark.sources.relational import (
    BASE,
    induce_triples_sql,
)

# ---------------------------------------------------------------------------
# crawl pages: a seed-shifted window of pipeline/pages.py's per-id world
# ---------------------------------------------------------------------------


def page_window(seed: int, n_pages: int) -> tuple[int, int]:
    """(first id, entity count) of the seed's page window.  The entity
    count follows the program's own world model for a corpus of
    ``n_pages`` pages; ids stay small enough for ``warc_ts`` to fit a
    nanosecond timestamp."""
    lo = (seed * 7919 % 10007) * 1000
    return lo, P.n_entities(n_pages)


def pages_df(spark, seed: int, n_pages: int):
    """Pages ``[lo, lo + n_pages)`` in ``PAGES_SCHEMA``, generated inside
    ``mapInPandas`` from the same per-id functions
    ``pages.synthesize_pages`` uses."""
    lo, k = page_window(seed, n_pages)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].astype("int64")
            htmls = [P.page_html(int(i), k) for i in ids]
            yield pd.DataFrame(
                {
                    "url": [P.page_url(int(i)) for i in ids],
                    "warc_ts": pd.to_datetime(P.EPOCH + ids * 60, unit="s"),
                    "html": htmls,
                    "text": [html_to_text(h) for h in htmls],
                    "lang": ["en" if int(i) % 11 else "de" for i in ids],
                }
            )

    par = spark.sparkContext.defaultParallelism
    return spark.range(lo, lo + n_pages, numPartitions=par).mapInPandas(gen, PAGES_SCHEMA)


def truth_rows(i: int, k: int):
    """Expected normalized (s, p, o) triples of page ``i`` — the per-id
    form of ``pages.ground_truth_triples``, from the same functions."""
    norm = P.normalize_surface
    e = i % k
    s = norm(P.entity_stem(e))
    yield s, "locatedIn", norm(P.entity_stem(P.located_target(e, k)))
    yield s, "worksWith", norm(P.entity_stem(P.works_target(e, k)))
    yield s, "type", norm(P.entity_class(e))
    if i % 7 == 0:
        child, parent, _ = P.TAXONOMY[(i // 7) % len(P.TAXONOMY)]
        yield norm(child), "subClassOf", norm(parent)


def truth_df(spark, seed: int, n_pages: int):
    """Distinct ground truth of the seed's window as an (s, p, o)
    DataFrame — the windowed ``pages.ground_truth_df``."""
    lo, k = page_window(seed, n_pages)

    def gen(batches):
        for pdf in batches:
            rows = [t for i in pdf["id"] for t in truth_rows(int(i), k)]
            yield pd.DataFrame(rows, columns=["s", "p", "o"])

    par = spark.sparkContext.defaultParallelism
    return (
        spark.range(lo, lo + n_pages, numPartitions=par)
        .mapInPandas(gen, "s string, p string, o string")
        .distinct()
    )


TAXONOMY_PAIRS = {(c, p) for c, p, _ in P.TAXONOMY}

# ---------------------------------------------------------------------------
# editor session: TPC-H-style tables -> induce_triples, plus seeded edits
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def write_tables(out_dir: str, seed: int, customers: int, suppliers: int) -> None:
    """The four tables ``induce_triples`` reads, as parquet files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int64), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int64),
                "n_name": [n for n, _ in NATIONS],
                "n_regionkey": np.array([r for _, r in NATIONS], dtype=np.int64),
            }
        ),
    }
    for tbl, p, n in (("customer", "c", customers), ("supplier", "s", suppliers)):
        keys = np.arange(1, n + 1, dtype=np.int64)
        df = pd.DataFrame(
            {
                f"{p}_{'custkey' if p == 'c' else 'suppkey'}": keys,
                f"{p}_name": [f"{tbl.capitalize()}#{k:09d}" for k in keys],
                f"{p}_nationkey": rng.integers(0, 25, n).astype(np.int64),
                # whole cents: '%.2f' is exact on both engines
                f"{p}_acctbal": rng.integers(-99999, 999999, n) / 100.0,
            }
        )
        if p == "c":
            df["c_mktsegment"] = rng.choice(SEGMENTS, n)
        tables[tbl] = df
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def session_edits(seed: int, customers: int) -> list[tuple]:
    """The seeded edit batch that turns the base graph into the
    incoming one: ``(kind, args)`` tuples, applied on Spark through
    ``operators.mutations`` and on DuckDB by ``duck_graphs``.  Besides
    deletes and relabels, the batch makes every ``validation.validate``
    rule fire at least once."""
    rng = random.Random(seed)
    cust = [f"{BASE}customer_{c}" for c in rng.sample(range(1, customers + 1), 10)]
    nation = rng.choice([n for n, _ in NATIONS])
    sub = f"Sub_{nation.replace(' ', '_')}"
    edits: list[tuple] = [("delete", c) for c in cust[:2]]
    # one new label for two customers: duplicate_label
    edits += [("relabel", c, f"Relabelled {seed}") for c in cust[2:4]]
    # a subclass under a nation: the closure gets depth 2
    edits.append(("subclass", sub, f"Nation_{nation}"))
    # typed literals whose lexical form is not an xsd:double
    edits += [("bad_literal", c, f"n/a-{i}") for i, c in enumerate(cust[4:6])]
    # a class with no label and no links: missing_label, orphan_class
    edits.append(("class", f"Draft_{seed}"))
    # an individual with no class: untyped_individual
    edits.append(("individual", f"prospect_{seed}", f"Prospect {seed}"))
    # a property with only a domain and one with only a range, both the
    # new subclass, which no customer has: missing_range and
    # domain_mismatch, missing_domain and range_mismatch
    edits.append(("property", f"refers_{seed}", "domain", sub))
    edits.append(("property", f"serves_{seed}", "range", sub))
    edits.append(("assert", cust[6], f"refers_{seed}", cust[7]))
    edits.append(("assert", cust[8], f"serves_{seed}", cust[9]))
    return edits


def apply_edits_spark(triples, edits):
    from orionbelt_ontology_builder_spark.model import TRIPLES_SCHEMA, local_df
    from orionbelt_ontology_builder_spark.operators import mutations as M

    spark = triples.sparkSession
    for e in edits:
        kind = e[0]
        if kind == "delete":
            triples = M.delete_resource(triples, e[1])
        elif kind == "relabel":
            triples = M.update_annotation(triples, e[1], RDFS.label, e[2])
        elif kind == "subclass":
            triples = M.add_class(triples, e[1], BASE, label=e[1], parent=e[2])
        elif kind == "bad_literal":
            triples = M.add_triples(
                triples,
                local_df(spark, [t_lit(e[1], BASE + "acctbal", e[2], dt=XSD.double)], TRIPLES_SCHEMA),
            )
        elif kind == "class":
            triples = M.add_class(triples, e[1], BASE)
        elif kind == "individual":
            triples = M.add_individual(triples, e[1], BASE, label=e[2])
        elif kind == "property":
            end = {"domain" if e[2] == "domain" else "range_": e[3]}
            triples = M.add_object_property(triples, e[1], BASE, **end)
        elif kind == "assert":
            triples = M.add_individual_property(triples, e[1], e[2], e[3], True, BASE)
    return triples


def edit_rows(e) -> list[tuple]:
    """The triples an insert-only edit adds, as ``TRIPLES_SCHEMA`` rows."""
    kind = e[0]
    if kind == "subclass":
        c = BASE + e[1]
        return [t_uri(c, RDF.type, OWL.Class), t_uri(c, RDFS.subClassOf, BASE + e[2]), t_lit(c, RDFS.label, e[1])]
    if kind == "bad_literal":
        return [t_lit(e[1], BASE + "acctbal", e[2], dt=XSD.double)]
    if kind == "class":
        return [t_uri(BASE + e[1], RDF.type, OWL.Class)]
    if kind == "individual":
        i = BASE + e[1]
        return [t_uri(i, RDF.type, OWL.NamedIndividual), t_lit(i, RDFS.label, e[2])]
    if kind == "property":
        p = BASE + e[1]
        return [t_uri(p, RDF.type, OWL.ObjectProperty), t_uri(p, getattr(RDFS, e[2]), BASE + e[3])]
    if kind == "assert":
        return [t_uri(e[1], BASE + e[2], e[3])]
    raise ValueError(kind)


def rename_target(seed: int, customers: int) -> tuple[str, str]:
    """(old, new) URI of the session's rename op: a customer the edit
    batch keeps."""
    rng = random.Random(seed + 1)
    deleted = {e[1] for e in session_edits(seed, customers) if e[0] == "delete"}
    while True:
        old = f"{BASE}customer_{rng.randint(1, customers)}"
        if old not in deleted:
            return old, old.replace("customer_", "client_")


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def duck_graphs(tables_dir: str, edits: list[tuple]):
    """DuckDB connection holding ``base_g`` (induce_triples_sql with the
    lang/datatype slots ``induce_triples`` fills) and ``inc_g`` (base_g
    after the edit batch, applied as plain SQL)."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables_dir, t)}.parquet')"
        )
    con.execute(
        f"CREATE TABLE base_g AS WITH {induce_triples_sql()} "
        f"SELECT DISTINCT subj, pred, obj, obj_kind, NULL::VARCHAR AS obj_lang, "
        f"CASE WHEN pred = '{BASE}acctbal' THEN '{XSD.double}' END AS obj_dt FROM triples"
    )
    con.execute("CREATE TABLE inc_g AS SELECT * FROM base_g")
    for e in edits:
        if e[0] == "delete":
            con.execute(
                "DELETE FROM inc_g WHERE subj = ? OR (obj = ? AND obj_kind <> 'literal')",
                [e[1], e[1]],
            )
        elif e[0] == "relabel":
            con.execute("DELETE FROM inc_g WHERE subj = ? AND pred = ?", [e[1], RDFS.label])
            con.execute("INSERT INTO inc_g VALUES (?, ?, ?, 'literal', NULL, NULL)", [e[1], RDFS.label, e[2]])
        else:
            con.executemany("INSERT INTO inc_g VALUES (?, ?, ?, ?, ?, ?)", [list(r) for r in edit_rows(e)])
    con.execute("CREATE OR REPLACE TABLE inc_g AS SELECT DISTINCT * FROM inc_g")
    return con


#: every issue type ``validation.validate`` emits; the edit batch
#: triggers each of them
ISSUE_TYPES = {
    "missing_label", "missing_domain", "missing_range", "orphan_class",
    "untyped_individual", "duplicate_label", "domain_mismatch", "range_mismatch",
}


def expected_issues(con, ancestors: dict[str, set]) -> list[tuple]:
    """Sorted ``(severity, issue_type, subject)`` rows that
    ``validation.validate`` must return on ``inc_g``: its rules restated
    as DuckDB queries, and the domain/range rule in Python over
    ``ancestors`` (class -> itself and its superclasses)."""

    def q(xs):
        return ", ".join(f"'{x}'" for x in xs)

    def subjects(sql):
        return [r[0] for r in con.execute(sql).fetchall()]

    dom = [RDFS.domain, SCHEMA_NS + "domainIncludes", GIST_NS + "domainIncludes"]
    rng = [RDFS.range, SCHEMA_NS + "rangeIncludes", GIST_NS + "rangeIncludes"]
    is_type = f"pred = '{RDF.type}'"

    def typed(*kinds):
        return f"SELECT DISTINCT subj FROM inc_g WHERE {is_type} AND obj IN ({q(kinds)})"

    def with_pred(preds, col="subj"):
        return f"SELECT {col} FROM inc_g WHERE pred IN ({q(preds)})"

    classes = f"SELECT subj FROM ({typed(OWL.Class)}) WHERE NOT starts_with(subj, '_:')"
    props = typed(OWL.ObjectProperty, OWL.DatatypeProperty)
    used = " UNION ".join([
        with_pred([RDFS.subClassOf, OWL.equivalentClass, OWL.disjointWith]),
        with_pred([RDFS.subClassOf, *dom, *rng, OWL.onClass, OWL.someValuesFrom, OWL.allValuesFrom,
                   OWL.equivalentClass, OWL.disjointWith, OWL.complementOf], "obj"),
        f"SELECT obj FROM inc_g WHERE {is_type} AND NOT starts_with(obj, 'http://www.w3.org/')",
    ])
    label = f"pred = '{RDFS.label}'"
    rules = {
        ("warning", "missing_label"): f"{classes} EXCEPT {with_pred([RDFS.label, SKOS.prefLabel])}",
        ("info", "missing_domain"): f"{props} EXCEPT {with_pred(dom)}",
        ("info", "missing_range"): f"{props} EXCEPT {with_pred(rng)}",
        ("warning", "orphan_class"): f"{classes} EXCEPT SELECT * FROM ({used})",
        ("warning", "untyped_individual"): f"{typed(OWL.NamedIndividual)} EXCEPT "
        f"SELECT subj FROM inc_g WHERE {is_type} AND obj <> '{OWL.NamedIndividual}'",
        ("warning", "duplicate_label"): f"SELECT subj FROM (SELECT DISTINCT obj, subj FROM inc_g WHERE {label}) "
        f"WHERE obj IN (SELECT obj FROM inc_g WHERE {label} GROUP BY obj HAVING count(DISTINCT subj) > 1)",
    }
    out = [(sev, kind, s) for (sev, kind), sql in rules.items() for s in subjects(sql)]

    classes_of: dict[str, set] = {}
    for s, c in con.execute(f"SELECT subj, obj FROM inc_g WHERE {is_type}").fetchall():
        classes_of.setdefault(s, set()).update(ancestors.get(c, {c}))
    ends: dict[tuple, set] = {}
    for p, end, c in con.execute(
        f"SELECT subj, pred, obj FROM inc_g WHERE pred IN ({q([RDFS.domain, RDFS.range])})"
    ).fetchall():
        ends.setdefault((p, end), set()).add(c)
    individuals = set(subjects(typed(OWL.NamedIndividual)))
    bad_dom, bad_rng = set(), set()
    for s, p, o, kind in con.execute(
        f"SELECT subj, pred, obj, obj_kind FROM inc_g WHERE pred NOT IN ({q([RDF.type, RDFS.label, RDFS.comment])}) "
        "AND NOT starts_with(pred, 'http://www.w3.org/')"
    ).fetchall():
        if s not in individuals:
            continue
        if ends.get((p, RDFS.domain), set()) - classes_of.get(s, set()):
            bad_dom.add(s)
        if kind == "uri" and ends.get((p, RDFS.range), set()) - classes_of.get(o, set()):
            bad_rng.add(o)
    out += [("error", "domain_mismatch", s) for s in bad_dom]
    out += [("error", "range_mismatch", o) for o in bad_rng]
    return sorted(out)
