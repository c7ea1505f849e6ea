"""Schema/shape profiling operators — the "look at the data before you
model it" pass of KG construction.

The reference app exposes curated *views* of an ontology the user
already built (``/root/reference/app.py`` statistics/hierarchy panes);
a web-scale ingest needs the inverse: profile a raw triple pile or a
semi-structured event stream and *propose* the schema.  These operators
compute the three classic induction signals:

* :func:`json_props_profile` — per-key presence/type/cardinality stats
  over a JSON properties column (the "what attributes exist" question
  for event streams and crawled structured data).
* :func:`predicate_cardinality` — per-predicate fan-out/fan-in profile
  over a triples table; the functional / inverse-functional evidence an
  ontology-induction step turns into ``owl:FunctionalProperty``
  axioms (ref's object-property flags, ``ontology_manager.py``
  add_object_property signature).
* :func:`predicate_cooccurrence` — subject-level predicate pair
  support; predicates that always co-occur on the same subjects are
  the clustering signal for proposing classes (schema discovery).

All three are two-phase hash aggregations with map-side partials —
data-scale shuffles are keyed by (key)/(pred, subj)/(subj) and collapse
to vocabulary-bounded outputs, so they hold at 100 TB: the output of
every stage after the first partial agg is schema-sized, not data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .setops import sides

__all__ = [
    "json_props_profile",
    "json_props_profile_sql",
    "predicate_cardinality",
    "predicate_cardinality_sql",
    "predicate_cooccurrence",
    "predicate_cooccurrence_sql",
    "skew_report",
    "skew_report_sql",
    "join_size_estimate",
    "join_size_estimate_sql",
    "quality_expectations",
    "quality_expectations_sql",
    "expect_fk",
    "expect_fk_sql",
]

# Type classification is a pure function of the *normalized value text*
# (JSON strings unquoted, numbers/bools as their literal token) so Spark
# and DuckDB agree bit-for-bit without sharing a JSON parser.
_INT_RE = r"^-?[0-9]+$"
_FLOAT_RE = r"^-?[0-9]*\.[0-9]+([eE][-+]?[0-9]+)?$"


def _vt(col):
    return (
        F.when(col.isNull(), "null")
        .when(col.rlike(_INT_RE), "int")
        .when(col.rlike(_FLOAT_RE), "float")
        .when(col.isin("true", "false"), "bool")
        .otherwise("string")
    )


def json_props_profile(events: DataFrame, col: str = "props") -> DataFrame:
    """(key, n_present, frac_present, n_distinct, n_int, n_float,
    n_bool, n_string, n_null, dtype) — one row per JSON key.

    ``dtype`` is 'int'/'float'/'bool'/'string' when every non-null value
    classifies the same way, else 'mixed' ('null' if the key only ever
    holds nulls).

    Scale shape: explode(map) is map-side; the groupBy(key, value)
    pre-pass gives exact n_distinct with map-side combine (values per
    key are bounded by the value domain, keys by the schema — the
    second-stage agg is vocabulary-sized).  The total-row count rides a
    1-row broadcast cross join, not a driver collect."""
    m = F.from_json(F.col(col), "map<string,string>")
    kv = events.select(F.explode(m).alias("key", "value"))
    typed = kv.withColumn("vt", _vt(F.col("value")))
    # exact distinct via (key, value) pre-agg: map-side combine on both
    # stages; carries the per-type counts along so one pass suffices.
    per_val = typed.groupBy("key", "value", "vt").agg(
        F.count(F.lit(1)).alias("c")
    )
    prof = per_val.groupBy("key").agg(
        F.sum("c").alias("n_present"),
        F.count(F.when(F.col("value").isNotNull(), F.lit(1))).alias(
            "n_distinct"
        ),
        F.sum(F.when(F.col("vt") == "int", F.col("c")).otherwise(0)).alias(
            "n_int"
        ),
        F.sum(F.when(F.col("vt") == "float", F.col("c")).otherwise(0)).alias(
            "n_float"
        ),
        F.sum(F.when(F.col("vt") == "bool", F.col("c")).otherwise(0)).alias(
            "n_bool"
        ),
        F.sum(F.when(F.col("vt") == "string", F.col("c")).otherwise(0)).alias(
            "n_string"
        ),
        F.sum(F.when(F.col("vt") == "null", F.col("c")).otherwise(0)).alias(
            "n_null"
        ),
    )
    total = events.select(F.count(F.lit(1)).alias("n_rows"))
    nn = F.col("n_present") - F.col("n_null")
    dtype = (
        F.when(nn == 0, "null")
        .when(F.col("n_int") == nn, "int")
        .when(F.col("n_float") == nn, "float")
        .when(F.col("n_bool") == nn, "bool")
        .when(F.col("n_string") == nn, "string")
        .otherwise("mixed")
    )
    return (
        prof.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_present",
            (F.col("n_present") / F.col("n_rows")).alias("frac_present"),
            "n_distinct",
            "n_int",
            "n_float",
            "n_bool",
            "n_string",
            "n_null",
            dtype.alias("dtype"),
        )
        .orderBy("key")
    )


def json_props_profile_sql(table: str = "events", col: str = "props") -> str:
    """DuckDB twin — json_keys + unnest enumerates pairs;
    json_extract_string normalizes value text exactly like Spark's
    from_json into map<string,string>."""
    return f"""
WITH kv AS (
  SELECT k AS key, json_extract_string({col}, '$.' || k) AS value
  FROM {table}, unnest(json_keys({col})) AS t(k)),
typed AS (
  SELECT key, value,
    CASE WHEN value IS NULL THEN 'null'
         WHEN regexp_matches(value, '{_INT_RE}') THEN 'int'
         WHEN regexp_matches(value, '{_FLOAT_RE}') THEN 'float'
         WHEN value IN ('true','false') THEN 'bool'
         ELSE 'string' END AS vt
  FROM kv),
prof AS (
  SELECT key,
    count(*)::BIGINT AS n_present,
    count(DISTINCT value)::BIGINT AS n_distinct,
    sum(CASE WHEN vt='int' THEN 1 ELSE 0 END)::BIGINT AS n_int,
    sum(CASE WHEN vt='float' THEN 1 ELSE 0 END)::BIGINT AS n_float,
    sum(CASE WHEN vt='bool' THEN 1 ELSE 0 END)::BIGINT AS n_bool,
    sum(CASE WHEN vt='string' THEN 1 ELSE 0 END)::BIGINT AS n_string,
    sum(CASE WHEN vt='null' THEN 1 ELSE 0 END)::BIGINT AS n_null
  FROM typed GROUP BY key)
SELECT key, n_present,
  n_present::DOUBLE / (SELECT count(*) FROM {table}) AS frac_present,
  n_distinct, n_int, n_float, n_bool, n_string, n_null,
  CASE WHEN n_present - n_null = 0 THEN 'null'
       WHEN n_int = n_present - n_null THEN 'int'
       WHEN n_float = n_present - n_null THEN 'float'
       WHEN n_bool = n_present - n_null THEN 'bool'
       WHEN n_string = n_present - n_null THEN 'string'
       ELSE 'mixed' END AS dtype
FROM prof
ORDER BY key
"""


def predicate_cardinality(triples: DataFrame) -> DataFrame:
    """(pred, n_triples, n_subjects, n_objects, max_fanout, max_fanin,
    functional, inverse_functional, cardinality) — per-predicate shape.

    ``functional`` = no subject carries two values (max_fanout == 1);
    ``inverse_functional`` = no object is shared (max_fanin == 1);
    ``cardinality`` classifies the pair as 1:1 / 1:N / N:1 / M:N —
    the evidence table an induction step turns into
    owl:FunctionalProperty / owl:InverseFunctionalProperty proposals.

    Scale shape: two independent two-phase aggs — (pred, subj) then
    pred for the fan-out side, (pred, obj) then pred for the fan-in
    side — each with map-side partials; the final join is on the
    vocabulary-sized pred key.  The triples input is scanned twice;
    it's a map-side projection of the source tables, so re-scan beats
    caching data-scale rows."""
    out_side = (
        triples.groupBy("pred", "subj")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("pred")
        .agg(
            F.sum("c").alias("n_triples"),
            F.count(F.lit(1)).alias("n_subjects"),
            F.max("c").alias("max_fanout"),
        )
    )
    in_side = (
        triples.groupBy("pred", "obj")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.max("c").alias("max_fanin"),
        )
    )
    card = (
        F.when(
            (F.col("max_fanout") == 1) & (F.col("max_fanin") == 1), "1:1"
        )
        .when(F.col("max_fanout") == 1, "N:1")
        .when(F.col("max_fanin") == 1, "1:N")
        .otherwise("M:N")
    )
    return (
        out_side.join(in_side, "pred")
        .select(
            "pred",
            "n_triples",
            "n_subjects",
            "n_objects",
            "max_fanout",
            "max_fanin",
            (F.col("max_fanout") == 1).alias("functional"),
            (F.col("max_fanin") == 1).alias("inverse_functional"),
            card.alias("cardinality"),
        )
        .orderBy("pred")
    )


def predicate_cardinality_sql(triples_cte: str) -> str:
    """DuckDB twin; ``triples_cte`` is a full ``WITH`` clause defining
    ``triples(subj, pred, obj, ...)`` (see relational.induce_triples_sql)."""
    return f"""{triples_cte},
out_side AS (
  SELECT pred, sum(c)::BIGINT AS n_triples, count(*)::BIGINT AS n_subjects,
         max(c)::BIGINT AS max_fanout
  FROM (SELECT pred, subj, count(*) AS c FROM triples GROUP BY 1, 2)
  GROUP BY pred),
in_side AS (
  SELECT pred, count(*)::BIGINT AS n_objects, max(c)::BIGINT AS max_fanin
  FROM (SELECT pred, obj, count(*) AS c FROM triples GROUP BY 1, 2)
  GROUP BY pred)
SELECT pred, n_triples, n_subjects, n_objects, max_fanout, max_fanin,
  max_fanout = 1 AS functional,
  max_fanin = 1 AS inverse_functional,
  CASE WHEN max_fanout = 1 AND max_fanin = 1 THEN '1:1'
       WHEN max_fanout = 1 THEN 'N:1'
       WHEN max_fanin = 1 THEN '1:N'
       ELSE 'M:N' END AS cardinality
FROM out_side JOIN in_side USING (pred)
ORDER BY pred
"""


def predicate_cooccurrence(triples: DataFrame) -> DataFrame:
    """(pred_a, pred_b, n_subjects, support) for pred_a < pred_b —
    how many subjects carry BOTH predicates, as a fraction of all
    subjects.  Pairs with support ≈ 1 always travel together — the
    class-proposal signal of schema discovery (attributes of one
    entity type); support ≈ 0 pairs separate types.

    Scale shape: distinct (subj, pred) first (two-phase, map-side
    combine) and ``persist()`` — it feeds BOTH sides of the self-join
    (multi-consumer recompute trap, see the engineering notes).  The self-join is
    keyed on subj; per-subject distinct predicates are bounded by the
    vocabulary, so the pair blowup per subject is a small constant and
    no key is data-skewed.  Final agg lands on vocab² keys."""
    sp = triples.select("subj", "pred").distinct().persist()
    a = sp.select(F.col("subj"), F.col("pred").alias("pred_a"))
    b = sp.select(F.col("subj"), F.col("pred").alias("pred_b"))
    pairs = (
        a.join(b, "subj")
        .filter(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).alias("n_subjects"))
    )
    total = sp.select(F.count_distinct("subj").alias("n_all_subjects"))
    return (
        pairs.crossJoin(F.broadcast(total))
        .select(
            "pred_a",
            "pred_b",
            "n_subjects",
            (F.col("n_subjects") / F.col("n_all_subjects")).alias("support"),
        )
        .orderBy("pred_a", "pred_b")
    )


def predicate_cooccurrence_sql(triples_cte: str) -> str:
    """DuckDB twin.  The shared ``sp`` CTE is MATERIALIZED — DuckDB
    re-inlines plain CTEs at every reference site (the engineering notes)."""
    return f"""{triples_cte},
sp AS MATERIALIZED (SELECT DISTINCT subj, pred FROM triples)
SELECT a.pred AS pred_a, b.pred AS pred_b,
  count(*)::BIGINT AS n_subjects,
  count(*)::DOUBLE / (SELECT count(DISTINCT subj) FROM sp) AS support
FROM sp a JOIN sp b ON a.subj = b.subj AND a.pred < b.pred
GROUP BY 1, 2
ORDER BY pred_a, pred_b
"""


#: (table, column) key-ish columns scanned by ``fk_discovery``.
FK_COLUMNS = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("nation", "n_regionkey"),
    ("customer", "c_custkey"),
    ("customer", "c_nationkey"),
    ("supplier", "s_suppkey"),
    ("supplier", "s_nationkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("part", "p_partkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
]


def fk_discovery(
    spark, sf_dir: str, min_inclusion: float = 0.95
) -> DataFrame:
    """(col_a, col_b, n_a, n_common, inclusion) — unary inclusion-
    dependency discovery over the relational source's key-ish columns:
    directional coefficient |distinct(A) ∩ distinct(B)| / |distinct(A)|
    per ordered column pair, reported where >= ``min_inclusion`` — the
    classic foreign-key detector (SPIDER/Bell-Brockhausen family,
    public literature) that schema-induction runs before ontology
    induction turns relational rows into typed triples (the engine's
    ``sources.relational`` needs exactly these edges to exist).

    Plan: ONE tall distinct table (col_id, val) built from per-column
    DISTINCT projections (each a pushed-down single-column scan), then
    one self-equi-join on val (col_id pairs, never row pairs) + one
    count agg per directed pair — no per-pair rescans of the base
    tables, no cartesian on rows; the tall table is value-distinct so
    the join fan-out per val is bounded by the column count."""
    from pyspark.sql import functions as F

    parts = []
    for t, c in FK_COLUMNS:
        parts.append(
            spark.read.parquet(f"{sf_dir}/{t}.parquet")
            .select(F.col(c).cast("string").alias("val"))
            .distinct()
            .select(F.lit(f"{t}.{c}").alias("col_id"), "val")
        )
    tall = parts[0]
    for p in parts[1:]:
        tall = tall.unionByName(p)
    tall = tall.persist()
    sizes = tall.groupBy("col_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tall.alias("a"), tall.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.val") == F.col("b.val"))
            & (F.col("a.col_id") != F.col("b.col_id")),
        )
        .groupBy(
            F.col("a.col_id").alias("col_a"), F.col("b.col_id").alias("col_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("col_id", "col_a")), "col_a"
        )
        .select(
            "col_a",
            "col_b",
            F.col("n").alias("n_a"),
            "n_common",
            (F.col("n_common") / F.col("n")).alias("inclusion"),
        )
        .filter(F.col("inclusion") >= min_inclusion)
        .orderBy("col_a", "col_b")
    )


def fk_discovery_sql(min_inclusion: float = 0.95) -> str:
    sels = "\nUNION ALL\n".join(
        f"SELECT '{t}.{c}' AS col_id, DISTINCT_VAL AS val FROM "
        f"(SELECT DISTINCT {c}::VARCHAR AS DISTINCT_VAL FROM {t})"
        for t, c in FK_COLUMNS
    )
    return f"""
WITH tall AS MATERIALIZED ({sels}),
sizes AS MATERIALIZED (
  SELECT col_id, count(*)::BIGINT AS n FROM tall GROUP BY col_id),
common AS (
  SELECT a.col_id AS col_a, b.col_id AS col_b, count(*)::BIGINT AS n_common
  FROM tall a JOIN tall b
    ON a.val = b.val AND a.col_id <> b.col_id
  GROUP BY a.col_id, b.col_id)
SELECT c.col_a, c.col_b, s.n AS n_a, c.n_common,
  c.n_common / s.n AS inclusion
FROM common c JOIN sizes s ON s.col_id = c.col_a
WHERE c.n_common / s.n >= {min_inclusion}
ORDER BY c.col_a, c.col_b
"""


# ------------------------------------------------------------------ #
# Shuffle-skew report: which keys need salting, and how much
# ------------------------------------------------------------------ #


def skew_report(
    df: DataFrame,
    key: str,
    k: int = 10,
    target_rows: int = 1_000,
) -> DataFrame:
    """Top-``k`` hottest join/shuffle keys with the numbers a salting
    decision needs: per-key row count, share of the table, skew factor
    vs the mean key, and the salt fan-out that caps any one
    (key, salt) partition at ``target_rows`` rows.

    This is the diagnostic behind the pipeline's hot-entity salting
    (``pipeline/materialize.py``): at web scale a handful of entities
    (popular urls, celebrity pages) carry orders of magnitude more
    rows than the median key, and a key-partitioned join stalls on
    those reducers.  Reading this report — not guessing — picks the
    keys to salt and the fan-out to use.

    Plan: ONE per-key count aggregation (map-side partials), a 1-row
    global re-agg of its output broadcast back, TakeOrdered top-k.
    The per-key count output is key-cardinality-sized; nothing
    data-sized survives the first partial agg.  Integer counts;
    share/skew are single double divisions, salt fan-out is exact
    integer ceil-div — all engine-portable."""
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("key_rows")
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("key_rows").alias("total_rows"),
        F.max("key_rows").alias("max_key_rows"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "key_rows",
            "n_keys",
            "total_rows",
            F.expr("key_rows / CAST(total_rows AS DOUBLE)").alias("share"),
            F.expr(
                "key_rows * CAST(n_keys AS DOUBLE) / total_rows"
            ).alias("skew_factor"),
            # exact integer ceil-div: partitions of <= target_rows rows
            F.expr(
                f"CAST((key_rows + {target_rows} - 1) DIV {target_rows} AS BIGINT)"
            ).alias("recommended_salt"),
        )
        .orderBy(F.col("key_rows").desc(), F.col("key"))
        .limit(k)
    )


def skew_report_sql(
    table: str, key: str, k: int = 10, target_rows: int = 1_000
) -> str:
    """DuckDB twin of :func:`skew_report` (identical arithmetic)."""
    return f"""
WITH counts AS (
  SELECT {key} AS key, count(*)::BIGINT AS key_rows
  FROM {table} GROUP BY 1),
totals AS (
  SELECT count(*)::BIGINT AS n_keys, sum(key_rows)::BIGINT AS total_rows,
         max(key_rows) AS max_key_rows
  FROM counts)
SELECT key, key_rows, n_keys, total_rows,
       key_rows / CAST(total_rows AS DOUBLE) AS share,
       key_rows * CAST(n_keys AS DOUBLE) / total_rows AS skew_factor,
       ((key_rows + {target_rows} - 1) // {target_rows})::BIGINT
         AS recommended_salt
FROM counts CROSS JOIN totals
ORDER BY key_rows DESC, key
LIMIT {k}
"""


def join_size_estimate(
    a: DataFrame, b: DataFrame, key_a: str, key_b: str | None = None
) -> DataFrame:
    """One row of EXACT pre-join statistics for ``a JOIN b`` on a key —
    the numbers a join-strategy decision (broadcast? salt? bucketed?)
    needs *before* paying for the join:

    * ``join_rows``          = sum over keys of count_a * count_b (the
      exact inner-join output size — per-key count products, never the
      join itself)
    * ``max_key_join_rows``  the single hottest key's output (the
      reducer that stalls a key-partitioned join; compare against
      ``join_rows / shuffle_partitions`` to decide salting)
    * ``expansion``          join_rows / rows_a (probe-side blowup —
      >> 1 means the join multiplies, not filters)
    * key-overlap counts (``matching_keys`` vs each side's distinct
      keys: referential-integrity smell test)

    Plan: one per-key count aggregation per side (map-side partials,
    key-cardinality-sized outputs), an equi-join of the two count
    tables, one 1-row agg.  Total cost ~ two scans; never the
    O(join_rows) the estimate is protecting you from."""
    kb = key_b or key_a
    ca = a.groupBy(F.col(key_a).alias("key")).agg(
        F.count(F.lit(1)).alias("na")
    )
    cb = b.groupBy(F.col(kb).alias("key")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    ta = ca.agg(
        F.sum("na").alias("rows_a"), F.count(F.lit(1)).alias("keys_a")
    )
    tb = cb.agg(
        F.sum("nb").alias("rows_b"), F.count(F.lit(1)).alias("keys_b")
    )
    m = ca.join(cb, "key").agg(
        F.count(F.lit(1)).alias("matching_keys"),
        F.sum(F.col("na") * F.col("nb")).alias("join_rows"),
        F.max(F.col("na") * F.col("nb")).alias("max_key_join_rows"),
    )
    return (
        m.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "rows_a", "rows_b", "keys_a", "keys_b", "matching_keys",
            "join_rows", "max_key_join_rows",
            F.expr("join_rows / CAST(rows_a AS DOUBLE)").alias("expansion"),
        )
    )


def join_size_estimate_sql(
    table_a: str, table_b: str, key_a: str, key_b: str | None = None
) -> str:
    """DuckDB twin of :func:`join_size_estimate`."""
    kb = key_b or key_a
    return f"""
WITH ca AS (
  SELECT {key_a} AS key, count(*)::BIGINT AS na FROM {table_a} GROUP BY 1),
cb AS (
  SELECT {kb} AS key, count(*)::BIGINT AS nb FROM {table_b} GROUP BY 1),
ta AS (SELECT sum(na)::BIGINT AS rows_a, count(*)::BIGINT AS keys_a FROM ca),
tb AS (SELECT sum(nb)::BIGINT AS rows_b, count(*)::BIGINT AS keys_b FROM cb),
m AS (
  SELECT count(*)::BIGINT AS matching_keys,
         sum(na * nb)::BIGINT AS join_rows,
         max(na * nb)::BIGINT AS max_key_join_rows
  FROM ca JOIN cb USING (key))
SELECT rows_a, rows_b, keys_a, keys_b, matching_keys,
       join_rows, max_key_join_rows,
       join_rows / CAST(rows_a AS DOUBLE) AS expansion
FROM m CROSS JOIN ta CROSS JOIN tb
"""


# ------------------------------------------------------------------ #
# Declarative data-quality expectations (dbt-test / Deequ shape)
# ------------------------------------------------------------------ #


def quality_expectations(df: DataFrame, rules) -> DataFrame:
    """(rule, column, violations, passed): evaluate a declarative rule
    list against a table — the schema-contract gate a 100 TB ingest
    runs before promoting a snapshot (dbt tests / AWS Deequ shape,
    expressed as plain aggregations).

    Rule grammar (dicts):
      * ``{"rule": "not_null", "column": c}``
      * ``{"rule": "unique", "column": c}`` — violations = rows beyond
        the first per duplicated value (NULLs exempt, SQL-style)
      * ``{"rule": "accepted_values", "column": c, "values": [...]}``
      * ``{"rule": "non_negative", "column": c}``

    Scale shape: every not_null / accepted_values / non_negative rule
    folds into ONE conditional-aggregation pass over a single scan
    (map-side partials); each ``unique`` rule adds one per-value count
    agg whose output is value-cardinality-sized.  No windows, no
    joins, no collects."""
    cond_rules, uniq_rules = [], []
    for r in rules:
        (uniq_rules if r["rule"] == "unique" else cond_rules).append(r)

    aggs, meta = [], []
    for i, r in enumerate(cond_rules):
        c, kind = r["column"], r["rule"]
        if kind == "not_null":
            pred = F.col(c).isNull()
        elif kind == "accepted_values":
            pred = ~F.col(c).isin(r["values"]) | F.col(c).isNull()
        elif kind == "non_negative":
            pred = F.col(c) < 0
        else:
            raise ValueError(f"unknown rule {kind!r}")
        aggs.append(F.count(F.when(pred, 1)).alias(f"v{i}"))
        meta.append((kind, c))
    out = None
    if aggs:
        row = df.agg(*aggs)
        parts = [
            row.select(
                F.lit(kind).alias("rule"),
                F.lit(c).alias("column"),
                F.col(f"v{i}").alias("violations"),
            )
            for i, (kind, c) in enumerate(meta)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    for r in uniq_rules:
        c = r["column"]
        dups = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("n") > 1, F.col("n") - 1)), F.lit(0)
                ).alias("violations")
            )
            .select(
                F.lit("unique").alias("rule"),
                F.lit(c).alias("column"),
                F.col("violations"),
            )
        )
        out = dups if out is None else out.unionByName(dups)
    if out is None:
        raise ValueError("no rules")
    return out.withColumn("passed", F.col("violations") == 0).orderBy(
        "rule", "column"
    )


def quality_expectations_sql(table: str, rules) -> str:
    """DuckDB twin of :func:`quality_expectations`."""
    arms = []
    for r in rules:
        c, kind = r["column"], r["rule"]
        if kind == "not_null":
            arms.append(
                f"SELECT 'not_null' AS rule, '{c}' AS column,"
                f" count(*) FILTER (WHERE {c} IS NULL)::BIGINT AS violations"
                f" FROM {table}"
            )
        elif kind == "accepted_values":
            vals = ", ".join(f"'{v}'" for v in r["values"])
            arms.append(
                f"SELECT 'accepted_values', '{c}',"
                f" count(*) FILTER (WHERE {c} NOT IN ({vals})"
                f" OR {c} IS NULL)::BIGINT FROM {table}"
            )
        elif kind == "non_negative":
            arms.append(
                f"SELECT 'non_negative', '{c}',"
                f" count(*) FILTER (WHERE {c} < 0)::BIGINT FROM {table}"
            )
        elif kind == "unique":
            arms.append(
                f"SELECT 'unique', '{c}', coalesce(sum(n - 1) FILTER"
                f" (WHERE n > 1), 0)::BIGINT FROM (SELECT count(*) AS n"
                f" FROM {table} WHERE {c} IS NOT NULL GROUP BY {c})"
            )
        else:
            raise ValueError(f"unknown rule {kind!r}")
    u = "\nUNION ALL\n".join(arms)
    return f"""
SELECT rule, "column", violations, violations = 0 AS passed
FROM ({u})
ORDER BY rule, "column"
"""


def expect_fk(child: DataFrame, parent: DataFrame, key_c: str, key_p: str) -> DataFrame:
    """One row: referential-integrity check — child rows whose key has
    no parent (anti-join count; broadcast when the parent key set is
    dimension-sized)."""
    orphans = child.select(F.col(key_c).alias("k")).filter(
        F.col("k").isNotNull()
    ).join(
        parent.select(F.col(key_p).alias("k")).distinct(), "k", "left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).alias("violations")).select(
        F.lit("foreign_key").alias("rule"),
        F.lit(f"{key_c}->{key_p}").alias("column"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def expect_fk_sql(
    child: str, parent: str, key_c: str, key_p: str
) -> str:
    """DuckDB twin of :func:`expect_fk`."""
    return f"""
SELECT 'foreign_key' AS rule, '{key_c}->{key_p}' AS column,
       count(*)::BIGINT AS violations, count(*) = 0 AS passed
FROM {child} c
WHERE c.{key_c} IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{key_p} = c.{key_c})
"""


def score_calibration(
    scored: DataFrame,
    n_bins: int = 10,
    score: str = "score",
    label: str = "label",
) -> DataFrame:
    """(bin, n, mean_score, frac_pos, ece_contrib) — reliability
    diagram + Expected Calibration Error decomposition (Naeini et al.
    2015, public literature) for a [0,1] ``score`` against a 0/1
    ``label``: equal-width bins, per bin the mean predicted score vs
    the observed positive rate; ``sum(ece_contrib)`` is ECE.  The
    promote-or-retrain gate for quality-filter classifiers — a model
    can rank perfectly and still lie about probabilities, and
    threshold-based corpus curation inherits the lie.

    Scale shape: ONE conditional-agg pass keyed on the bin id
    (floor(score*n_bins) clamped; map-side partials, <= n_bins groups)
    + a broadcast 1-row total for the weight term."""
    b = F.least(
        F.floor(F.col(score) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    per_bin = (
        scored.select(
            b.alias("bin"), F.col(score).alias("s"), F.col(label).alias("y")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("s").alias("mean_score"),
            (F.sum("y") / F.count(F.lit(1))).alias("frac_pos"),
        )
    )
    tot = per_bin.groupBy().agg(F.sum("n").cast("double").alias("n_tot"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "mean_score",
            "frac_pos",
            (
                (F.col("n") / F.col("n_tot"))
                * F.abs(F.col("mean_score") - F.col("frac_pos"))
            ).alias("ece_contrib"),
        )
        .orderBy("bin")
    )


def score_calibration_sql(
    scored_cte: str,
    n_bins: int = 10,
) -> str:
    """DuckDB twin; ``scored_cte`` defines ``scored(score, label)``."""
    return f"""
WITH {scored_cte.strip()},
per_bin AS (
  SELECT least(floor(score * {n_bins})::BIGINT, {n_bins - 1}) AS bin,
         count(*)::BIGINT AS n,
         avg(score) AS mean_score,
         sum(label) / count(*) AS frac_pos
  FROM scored GROUP BY 1),
tot AS (SELECT sum(n)::DOUBLE AS n_tot FROM per_bin)
SELECT bin, n, mean_score, frac_pos,
  (n / n_tot) * abs(mean_score - frac_pos) AS ece_contrib
FROM per_bin CROSS JOIN tot
ORDER BY bin
"""


def cohens_kappa(preds: DataFrame) -> DataFrame:
    """One row (n_items, po, pe, kappa) — Cohen's kappa
    chance-corrected agreement between two labelers over the same
    items (``preds(item, pred_a, pred_b)``): po = observed agreement,
    pe = sum over classes of marginal products, kappa = (po-pe)/(1-pe)
    (Cohen 1960, public literature).  The standard two-extractors /
    annotator-vs-model consistency gate: raw agreement flatters
    whenever one class dominates; kappa does not.

    Bit-stability: all three ratios derive from INTEGER counts —
    agreement count, per-class marginal count products summed as
    exact integer-valued doubles — with the divisions applied in one
    fixed expression tree, so both engines produce identical doubles.

    Scale shape: one agree-count agg + one per-class marginal agg per
    side (classes are vocabulary-sized) + a class-keyed equi-join of
    the two marginal tables; no window, no driver math."""
    base = (
        preds.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.when(F.col("pred_a") == F.col("pred_b"), 1).otherwise(0)
            ).alias("n_agree"),
        )
    )
    ma = preds.groupBy(F.col("pred_a").alias("cls")).agg(
        F.count(F.lit(1)).alias("na")
    )
    mb = preds.groupBy(F.col("pred_b").alias("cls")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    cross = (
        ma.join(mb, "cls")
        .groupBy()
        .agg(F.sum(F.col("na") * F.col("nb")).alias("sum_prod"))
    )
    po = F.col("n_agree") / F.col("n_items")
    pe = F.col("sum_prod") / (F.col("n_items") * F.col("n_items"))
    return base.crossJoin(F.broadcast(cross)).select(
        "n_items",
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def cohens_kappa_sql(preds_cte: str) -> str:
    """DuckDB twin; ``preds_cte`` defines
    ``preds(item, pred_a, pred_b)``."""
    return f"""
WITH {preds_cte.strip()},
base AS (
  SELECT count(*)::BIGINT AS n_items,
    sum(CASE WHEN pred_a = pred_b THEN 1 ELSE 0 END) AS n_agree
  FROM preds),
ma AS (SELECT pred_a AS cls, count(*) AS na FROM preds GROUP BY 1),
mb AS (SELECT pred_b AS cls, count(*) AS nb FROM preds GROUP BY 1),
crossp AS (
  SELECT sum(na * nb) AS sum_prod FROM ma JOIN mb ON ma.cls = mb.cls)
SELECT n_items,
  n_agree / n_items AS po,
  sum_prod / (n_items * n_items) AS pe,
  ((n_agree / n_items) - (sum_prod / (n_items * n_items)))
    / (1.0 - (sum_prod / (n_items * n_items))) AS kappa
FROM base CROSS JOIN crossp
"""


def join_strategy_advisor(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str | None = None,
    broadcast_rows: int = 100_000,
    shuffle_partitions: int = 200,
    skew_factor: float = 4.0,
) -> DataFrame:
    """One row: :func:`join_size_estimate`'s exact pre-join statistics
    PLUS the physical-strategy decision they imply — the
    broadcast/salt/shuffle choice made from measurement, not guesses:

    * ``broadcast_b`` / ``broadcast_a`` when a side fits the broadcast
      budget (map-side join, no shuffle at all);
    * ``salt_hot_keys`` when the hottest key's output exceeds
      ``skew_factor`` x the average partition's share (that reducer IS
      the job's wall clock; ``salt_n`` is the exact ceil-div fan-out
      that caps it back to average);
    * ``shuffle_hash`` otherwise (and at 100 TB: bucket BOTH sides on
      the key so the exchange happens once at write time).

    All decisions derive from integer stats — deterministic and
    oracle-stable."""
    est = join_size_estimate(a, b, key_a, key_b)
    avg_part = F.col("join_rows") / F.lit(float(shuffle_partitions))
    skewed = F.col("max_key_join_rows") > F.lit(skew_factor) * avg_part
    decision = (
        F.when(F.col("rows_b") <= broadcast_rows, F.lit("broadcast_b"))
        .when(F.col("rows_a") <= broadcast_rows, F.lit("broadcast_a"))
        .when(skewed, F.lit("salt_hot_keys"))
        .otherwise(F.lit("shuffle_hash"))
    )
    salt_n = F.when(
        skewed, F.ceil(F.col("max_key_join_rows") / avg_part).cast("long")
    ).otherwise(F.lit(1))
    return est.select("*", decision.alias("decision"), salt_n.alias("salt_n"))


def join_strategy_advisor_sql(
    table_a: str,
    table_b: str,
    key_a: str,
    key_b: str | None = None,
    broadcast_rows: int = 100_000,
    shuffle_partitions: int = 200,
    skew_factor: float = 4.0,
) -> str:
    """DuckDB twin: the estimate subquery + identical CASE cascade."""
    avg = f"(join_rows / {float(shuffle_partitions)})"
    skewed = f"max_key_join_rows > {skew_factor} * {avg}"
    return f"""
WITH est AS ({join_size_estimate_sql(table_a, table_b, key_a, key_b)})
SELECT est.*,
  CASE WHEN rows_b <= {broadcast_rows} THEN 'broadcast_b'
       WHEN rows_a <= {broadcast_rows} THEN 'broadcast_a'
       WHEN {skewed} THEN 'salt_hot_keys'
       ELSE 'shuffle_hash' END AS decision,
  CASE WHEN {skewed}
       THEN ceil(max_key_join_rows / {avg})::BIGINT
       ELSE 1 END AS salt_n
FROM est
"""


# --------------------------------------------------------------------- #
# functional-dependency discovery
# --------------------------------------------------------------------- #


def fd_discovery(df: DataFrame, columns: list[str]) -> DataFrame:
    """(determinant, dependent, n_groups, n_violating_groups, holds) —
    exact single-column functional-dependency check for every ordered
    column pair: ``A -> B`` holds iff no value of ``A`` co-occurs with
    two distinct values of ``B`` (Huhtala et al. 1999 TANE / Metanome
    family, public literature).  The schema-inference companion to
    ``fk_discovery`` (inclusion dependencies): INDs find join keys
    *across* tables, FDs find keys and derived columns *within* one.

    Plan: one ``groupBy(A)`` aggregation per determinant computing
    ``count(DISTINCT B)`` for all other columns at once, then a 1-row
    rollup counting violating groups — c shuffles for c columns, each
    with map-side partial aggregation, output size c*(c-1) rows.  NULL
    counts as a regular value (two NULLs don't violate; NULL vs value
    does), implemented as coalesce to a sentinel so Spark and DuckDB
    agree on distinct-count-over-NULL semantics."""
    sent = " <null>"
    out = None
    for a in columns:
        others = [b for b in columns if b != a]
        grouped = df.groupBy(a).agg(
            *[
                F.countDistinct(
                    F.coalesce(F.col(b).cast("string"), F.lit(sent))
                ).alias(b)
                for b in others
            ]
        )
        rollup = grouped.agg(
            F.count(F.lit(1)).alias("n_groups"),
            *[
                F.sum((F.col(b) > 1).cast("long")).alias(b)
                for b in others
            ],
        )
        stack = ", ".join(f"'{b}', {b}" for b in others)
        part = rollup.select(
            F.lit(a).alias("determinant"),
            F.expr(
                f"stack({len(others)}, {stack}) AS (dependent, nv)"
            ),
            "n_groups",
        ).select(
            "determinant",
            F.col("dependent"),
            "n_groups",
            F.col("nv").alias("n_violating_groups"),
            (F.col("nv") == 0).alias("holds"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("determinant", "dependent")


def fd_discovery_sql(table: str, columns: list[str]) -> str:
    """DuckDB twin: same per-determinant grouped distinct counts,
    unioned.  The NULL sentinel matches the Spark side exactly."""
    sent = " <null>"
    parts = []
    for a in columns:
        others = [b for b in columns if b != a]
        distincts = ", ".join(
            f"count(DISTINCT coalesce({b}::VARCHAR, '{sent}')) AS {b}"
            for b in others
        )
        for b in others:
            parts.append(
                f"""SELECT '{a}' AS determinant, '{b}' AS dependent,
  count(*)::BIGINT AS n_groups,
  sum(CASE WHEN {b} > 1 THEN 1 ELSE 0 END)::BIGINT
    AS n_violating_groups,
  sum(CASE WHEN {b} > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {a}, {distincts} FROM {table} GROUP BY {a})"""
            )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY determinant, dependent"


# ------------------------------------------------------------------ #
# Functional-property suggestion (schema induction from usage — the
# axiom-mining counterpart of predicate_cardinality: a predicate whose
# subjects near-always carry ONE value is an owl:FunctionalProperty
# candidate, the axiom that then powers reasoning's prp-fp identity
# rule and PARIS-style inverse-functionality weighting).
# ------------------------------------------------------------------ #


def suggest_functional(
    triples: DataFrame,
    max_violation_rate: float = 0.05,
    min_subjects: int = 3,
) -> DataFrame:
    """(pred, n_subjects, n_multi, violation_rate, suggested) — per
    predicate: subjects carrying it, subjects carrying >1 distinct
    value, and the violation rate; ``suggested`` when the rate is at
    most ``max_violation_rate`` over at least ``min_subjects``
    (support gate against one-example "axioms").  rdf:type stays IN —
    multi-typing shows up as a high violation rate and is exactly why
    type must not be inferred functional.

    Scale shape: one (pred, subj) distinct-value agg + one per-pred
    rollup — both map-side combinable; output is vocabulary-sized.
    Integer-ratio arithmetic keeps the verdict cross-engine exact."""
    per = (
        triples.groupBy("pred", "subj")
        .agg(
            F.countDistinct(F.col("obj"), F.col("obj_kind")).alias("n_vals")
        )
    )
    agg = per.groupBy("pred").agg(
        F.count("*").alias("n_subjects"),
        F.sum(F.when(F.col("n_vals") > 1, 1).otherwise(0)).alias("n_multi"),
    )
    return agg.select(
        "pred",
        "n_subjects",
        "n_multi",
        (F.col("n_multi") / F.col("n_subjects").cast("double")).alias(
            "violation_rate"
        ),
        (
            (
                F.col("n_multi") / F.col("n_subjects").cast("double")
                <= max_violation_rate
            )
            & (F.col("n_subjects") >= min_subjects)
        ).alias("suggested"),
    ).orderBy("pred")


def suggest_functional_sql(
    triples_src: str = "triples",
    max_violation_rate: float = 0.05,
    min_subjects: int = 3,
) -> str:
    """DuckDB twin — compose after a CTE defining ``triples``."""
    return f"""
per AS (
  SELECT pred, subj,
         count(DISTINCT (obj, obj_kind))::BIGINT AS n_vals
  FROM {triples_src} GROUP BY pred, subj),
agg AS (
  SELECT pred, count(*)::BIGINT AS n_subjects,
         sum(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END)::BIGINT AS n_multi
  FROM per GROUP BY pred)
SELECT pred, n_subjects, n_multi,
  n_multi / n_subjects::DOUBLE AS violation_rate,
  (n_multi / n_subjects::DOUBLE <= {max_violation_rate}
   AND n_subjects >= {min_subjects}) AS suggested
FROM agg ORDER BY pred"""


# ------------------------------------------------------------------ #
# Inverse / symmetric property mining (extension-based axiom
# induction, the transposed twin of align.property_alignment): if the
# extension of q is (approximately) the TRANSPOSE of p's, the pair is
# an owl:inverseOf candidate; if p's extension is its own transpose,
# p is an owl:SymmetricProperty candidate.  Both feed reasoning's
# prp-inv / prp-symp rules.
# ------------------------------------------------------------------ #


def suggest_inverse(
    triples: DataFrame,
    min_overlap: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """(pred_a, pred_b, kind, n_shared, n_a, n_b, jaccard) — pairs
    where ext(pred_a) ∩ transpose(ext(pred_b)) is large;
    kind='symmetric' when pred_a == pred_b (a predicate matched
    against its own transpose scores 1.0 iff fully symmetric),
    'inverse' otherwise (pred_a < pred_b, each unordered pair once).

    Only uri-object rows participate (a literal has no inverse
    direction).  Scale shape: ONE equi-join of the extension against
    its transposed self on the (subj, obj) pair key; per-pred sizes
    broadcast; integer-ratio Jaccard."""
    from ..model import RDF

    ext = (
        triples.filter(
            (F.col("obj_kind") == "uri") & (F.col("pred") != RDF.type)
        )
        .select("pred", "subj", "obj")
        .distinct()
    )
    sizes = ext.groupBy("pred").agg(F.count("*").alias("n"))
    t = ext.select(
        F.col("pred").alias("pred_b"),
        F.col("obj").alias("subj"),
        F.col("subj").alias("obj"),
    )
    inter = (
        ext.withColumnRenamed("pred", "pred_a")
        .join(t, ["subj", "obj"])
        .filter(F.col("pred_a") <= F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("pred", "pred_a")), "pred_a"
        )
        .withColumnRenamed("n", "n_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("pred", "pred_b")), "pred_b"
        )
        .withColumnRenamed("n", "n_b")
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                "double"
            ),
        )
        .withColumn(
            "kind",
            F.when(
                F.col("pred_a") == F.col("pred_b"), "symmetric"
            ).otherwise("inverse"),
        )
    )
    return (
        out.filter(
            (F.col("n_shared") >= min_overlap)
            & (F.col("jaccard") >= min_jaccard)
        )
        .select(
            "pred_a", "pred_b", "kind", "n_shared", "n_a", "n_b", "jaccard"
        )
        .orderBy("pred_a", "pred_b")
    )


def suggest_inverse_sql(
    triples_src: str = "triples",
    min_overlap: int = 2,
    min_jaccard: float = 0.5,
) -> str:
    """DuckDB twin — compose after a CTE defining ``triples``."""
    from ..model import RDF

    return f"""
ext AS MATERIALIZED (
  SELECT DISTINCT pred, subj, obj FROM {triples_src}
  WHERE obj_kind = 'uri' AND pred <> '{RDF.type}'),
sizes AS (SELECT pred, count(*)::BIGINT AS n FROM ext GROUP BY pred),
inter AS (
  SELECT a.pred AS pred_a, b.pred AS pred_b,
         count(*)::BIGINT AS n_shared
  FROM ext a JOIN ext b ON a.subj = b.obj AND a.obj = b.subj
  WHERE a.pred <= b.pred
  GROUP BY 1, 2)
SELECT i.pred_a, i.pred_b,
  CASE WHEN i.pred_a = i.pred_b THEN 'symmetric' ELSE 'inverse' END AS kind,
  i.n_shared, sa.n AS n_a, sb.n AS n_b,
  i.n_shared / (sa.n + sb.n - i.n_shared)::DOUBLE AS jaccard
FROM inter i
JOIN sizes sa ON i.pred_a = sa.pred
JOIN sizes sb ON i.pred_b = sb.pred
WHERE i.n_shared >= {min_overlap}
  AND i.n_shared / (sa.n + sb.n - i.n_shared)::DOUBLE >= {min_jaccard}
ORDER BY pred_a, pred_b"""


# ------------------------------------------------------------------ #
# Datatype-range induction: infer the xsd range of a data property
# from the lexical shapes of its values (the schema-induction twin of
# validation.validate_literals, which checks DECLARED datatypes; this
# proposes them where none are declared — the normal state of
# web-extracted literals).
# ------------------------------------------------------------------ #

#: (shape name, anchored pattern, inferred xsd range) in PRIORITY
#: order — first match wins per value; string is the fallback.
_SHAPES: list[tuple[str, str, str]] = [
    ("integer", r"^[+-]?[0-9]+$", "integer"),
    ("decimal", r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+)$", "decimal"),
    (
        "double",
        r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)[eE][+-]?[0-9]+$",
        "double",
    ),
    (
        "date",
        r"^-?[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$",
        "date",
    ),
    (
        "dateTime",
        r"^-?[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
        r"T[0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?"
        r"(Z|[+-][0-9]{2}:[0-9]{2})?$",
        "dateTime",
    ),
    ("boolean", r"^(true|false)$", "boolean"),
]

_XSD_NS_P = "http://www.w3.org/2001/XMLSchema#"


def suggest_ranges(
    triples: DataFrame, min_share: float = 0.95
) -> DataFrame:
    """(pred, n_values, top_shape, top_share, suggested_range) — per
    literal-valued predicate: the dominant lexical shape of its
    values and, when its share is at least ``min_share``, the
    suggested ``rdfs:range`` (xsd uri; NULL when the evidence is
    mixed).  Shape dispatch is one first-match CASE chain (priority:
    integer > decimal > double > date > dateTime > boolean > string).

    Scale shape: one codegen projection + one (pred, shape) count agg
    + one per-pred max_by rollup; integer-ratio shares."""
    shape = None
    for name, pat, _rng in _SHAPES:
        cond = F.col("obj").rlike(pat)
        shape = F.when(cond, name) if shape is None else shape.when(cond, name)
    shape = shape.otherwise("string")
    lits = triples.filter(F.col("obj_kind") == "literal").select(
        "pred", shape.alias("shape")
    )
    counts = lits.groupBy("pred", "shape").agg(F.count("*").alias("c"))
    tot = counts.groupBy("pred").agg(F.sum("c").alias("n_values"))
    # deterministic winner: count desc then shape asc — expressed as a
    # MIN over the (negated count, shape) struct so both engines use
    # plain lexicographic struct ordering (ulp-free integer keys)
    top = counts.groupBy("pred").agg(
        F.min_by(
            F.struct(F.col("shape"), F.col("c")),
            F.struct(
                (F.lit(0) - F.col("c")).alias("negc"), F.col("shape")
            ),
        ).alias("w")
    )
    rng_map = {name: _XSD_NS_P + rng for name, _p, rng in _SHAPES}
    rng_map["string"] = _XSD_NS_P + "string"
    rng_expr = None
    for name, uri in rng_map.items():
        cond = F.col("top_shape") == name
        rng_expr = (
            F.when(cond, uri) if rng_expr is None else rng_expr.when(cond, uri)
        )
    return (
        top.select("pred", F.col("w.shape").alias("top_shape"), F.col("w.c").alias("c"))
        .join(tot, "pred")
        .select(
            "pred",
            "n_values",
            "top_shape",
            (F.col("c") / F.col("n_values").cast("double")).alias("top_share"),
            F.when(
                F.col("c") / F.col("n_values").cast("double") >= min_share,
                rng_expr,
            ).alias("suggested_range"),
        )
        .orderBy("pred")
    )


def suggest_ranges_sql(
    triples_src: str = "triples", min_share: float = 0.95
) -> str:
    """DuckDB twin — identical CASE priority and tiebreak."""
    whens = "\n    ".join(
        f"WHEN regexp_matches(obj, '{pat}') THEN '{name}'"
        for name, pat, _r in _SHAPES
    )
    rng_whens = "\n    ".join(
        f"WHEN '{name}' THEN '{_XSD_NS_P}{rng}'"
        for name, _p, rng in _SHAPES
    ) + f"\n    WHEN 'string' THEN '{_XSD_NS_P}string'"
    return f"""
lits AS (
  SELECT pred,
    CASE {whens} ELSE 'string' END AS shape
  FROM {triples_src} WHERE obj_kind = 'literal'),
counts AS (SELECT pred, shape, count(*)::BIGINT AS c
           FROM lits GROUP BY 1, 2),
tot AS (SELECT pred, sum(c)::BIGINT AS n_values FROM counts GROUP BY 1),
top AS (
  SELECT pred,
    (min(struct_pack(negc := -c, shape := shape, c := c))).shape
      AS top_shape,
    (min(struct_pack(negc := -c, shape := shape, c := c))).c AS c
  FROM counts GROUP BY pred)
SELECT t.pred, tot.n_values, t.top_shape,
  t.c / tot.n_values::DOUBLE AS top_share,
  CASE WHEN t.c / tot.n_values::DOUBLE >= {min_share}
    THEN CASE t.top_shape {rng_whens} END
  END AS suggested_range
FROM top t JOIN tot USING (pred)
ORDER BY pred"""


# ---------------------------------------------------------------------------
# Extraction recall estimation (capture-recapture)
# ---------------------------------------------------------------------------

#: two-extractor fixture: worksFor overlap 2/(3,4) -> N^=6, livesIn
#: disjoint-free overlap 3/(3,3) -> N^=3 (complete), basedIn seen by
#: one extractor only (overlap 0 -> estimate undefined, NULL).
CAPTURE_A: list[tuple[str, str, str]] = [
    ("alice", "worksFor", "acme"),
    ("bob", "worksFor", "acme"),
    ("carol", "worksFor", "globex"),
    ("alice", "livesIn", "berlin"),
    ("bob", "livesIn", "berlin"),
    ("carol", "livesIn", "paris"),
    ("acme", "basedIn", "berlin"),
]
CAPTURE_B: list[tuple[str, str, str]] = [
    ("alice", "worksFor", "acme"),
    ("carol", "worksFor", "globex"),
    ("dave", "worksFor", "initech"),
    ("eve", "worksFor", "initech"),
    ("alice", "livesIn", "berlin"),
    ("bob", "livesIn", "berlin"),
    ("carol", "livesIn", "paris"),
]


def capture_fixture_df(spark, which: str):
    rows = CAPTURE_A if which == "a" else CAPTURE_B
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def capture_fixture_cte(which: str, alias: str) -> str:
    rows = CAPTURE_A if which == "a" else CAPTURE_B
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in rows)
    return f"{alias}(subj, pred, obj) AS (VALUES {vals})"


def recall_estimate(ext_a: DataFrame, ext_b: DataFrame) -> DataFrame:
    """(pred, n_a, n_b, n_both, n_union, est_total, est_recall) —
    Lincoln-Petersen capture-recapture per predicate over two
    INDEPENDENT extraction runs (different pattern sets, different
    crawls): if extractor A catches n_a facts, B catches n_b, and they
    agree on n_both, the true fact population is estimated at
    ``n_a * n_b / n_both`` and the union's recall at
    ``n_union / est_total`` — the standard KB-completeness estimator
    (Razniewski et al., public literature).  Zero-overlap predicates
    get NULL estimates (the model needs a recapture).

    Plan: one :func:`setops.sides` fold on the fact key (one exchange,
    map-side combine), then one conditional agg per predicate."""
    in_a, in_b = F.col("in_a"), F.col("in_b")
    agg = (
        sides(ext_a, ext_b, ["subj", "pred", "obj"])
        .groupBy("pred")
        .agg(
            F.count(F.when(in_a, 1)).alias("n_a"),
            F.count(F.when(in_b, 1)).alias("n_b"),
            F.count(F.when(in_a & in_b, 1)).alias("n_both"),
            F.count(F.lit(1)).alias("n_union"),
        )
    )
    est = F.when(
        F.col("n_both") > 0,
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.col("n_both"),
    )
    return (
        agg.withColumn("est_total", est)
        .withColumn(
            "est_recall",
            F.when(
                F.col("n_both") > 0,
                F.col("n_union").cast("double") / F.col("est_total"),
            ),
        )
        .orderBy("pred")
    )


def recall_estimate_sql(cte_a: str, cte_b: str) -> str:
    """DuckDB twin; ``cte_a``/``cte_b`` must define ``a``/``b`` with
    (subj, pred, obj)."""
    return f"""
WITH {cte_a},
{cte_b},
da AS (SELECT DISTINCT subj, pred, obj FROM a),
db AS (SELECT DISTINCT subj, pred, obj FROM b),
j AS (
  SELECT coalesce(da.pred, db.pred) AS pred,
         (da.subj IS NOT NULL)::INT AS in_a,
         (db.subj IS NOT NULL)::INT AS in_b
  FROM da FULL OUTER JOIN db
    ON da.subj = db.subj AND da.pred = db.pred AND da.obj = db.obj),
agg AS (
  SELECT pred, sum(in_a)::BIGINT AS n_a, sum(in_b)::BIGINT AS n_b,
         sum(in_a * in_b)::BIGINT AS n_both,
         count(*)::BIGINT AS n_union
  FROM j GROUP BY pred)
SELECT pred, n_a, n_b, n_both, n_union,
  CASE WHEN n_both > 0
       THEN n_a::DOUBLE * n_b::DOUBLE / n_both END AS est_total,
  CASE WHEN n_both > 0
       THEN n_union::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE / n_both)
       END AS est_recall
FROM agg
ORDER BY pred"""


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval (deterministic replicates)
# ---------------------------------------------------------------------------

#: Poisson(1) inverse-CDF thresholds for k = 0..4 (else 5) — literal
#: doubles, identical in both engines.
_POIS = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
         0.9810118431238462, 0.9963401531726563]


def bootstrap_mean_ci(
    docs: DataFrame, n_reps: int = 40, alpha: float = 0.05
) -> DataFrame:
    """(n_docs, mean_len, ci_lo, ci_hi, n_replicates) — percentile
    Poisson-bootstrap CI for the mean document token length (Efron's
    bootstrap in its streaming-friendly Poissonized form, public
    literature: resampling n-out-of-n ~ giving each row an independent
    Poisson(1) weight — ONE pass over the corpus for ALL replicates,
    no per-replicate shuffle of the data).

    Determinism: replicate weights come from the md5 inverse-CDF idiom
    (doc_id x replicate salt -> uniform -> Poisson(1) via fixed
    thresholds), so both engines draw the SAME resamples; the metric
    is integer token counts, so every replicate's numerator/denominator
    is an exact integer pair and the replicate mean is one division.
    CI bounds are RANK-picked replicate means (ceil(alpha/2*R) /
    ceil((1-alpha/2)*R)) — no interpolation."""
    from ..datapipe.textstats import token_counts

    lens = token_counts(docs).select("doc_id", "n_tokens")
    reps = lens.sparkSession.range(n_reps).select(
        (F.col("id") + 1).cast("int").alias("rep")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("boot"), "rep", "doc_id")), 1, 8
            ),
            16, 10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    w = F.lit(len(_POIS))
    for k in range(len(_POIS) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS[k]), F.lit(k)).otherwise(w)
    means = (
        lens.crossJoin(F.broadcast(reps))
        .select("rep", (w * F.col("n_tokens")).alias("wl"), w.alias("w"))
        .groupBy("rep")
        .agg(
            (F.sum("wl").cast("double") / F.sum("w")).alias("m")
        )
    )
    import math

    from pyspark.sql import Window

    lo_rank = max(1, math.ceil(n_reps * alpha / 2))
    hi_rank = math.ceil(n_reps * (1 - alpha / 2))
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "rep"))
    )
    base = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
            "mean_len"
        ),
    )
    bounds = ranked.filter(F.col("rn").isin(lo_rank, hi_rank)).agg(
        F.min("m").alias("ci_lo"), F.max("m").alias("ci_hi")
    )
    return base.crossJoin(F.broadcast(bounds)).select(
        "n_docs", "mean_len", "ci_lo", "ci_hi",
        F.lit(n_reps).alias("n_replicates"),
    )


def bootstrap_mean_ci_sql(
    docs_src: str = "documents", n_reps: int = 40, alpha: float = 0.05
) -> str:
    """DuckDB twin: identical md5 uniforms, thresholds, rank-picked
    bounds."""
    import math

    lo_rank = max(1, math.ceil(n_reps * alpha / 2))
    hi_rank = math.ceil(n_reps * (1 - alpha / 2))
    from ..datapipe.textstats import norm_sql, tokens_sql

    whens = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS)
    )
    return f"""
lens AS MATERIALIZED (
  SELECT doc_id,
         len(list_filter({tokens_sql(norm_sql())}, t -> t <> ''))::BIGINT
           AS n_tokens
  FROM {docs_src}),
reps AS (SELECT unnest(range(1, {n_reps + 1}))::INT AS rep),
draws AS (
  SELECT rep, n_tokens,
    ('0x' || substr(md5('boot' || '|' || rep::VARCHAR || '|' ||
                        doc_id::VARCHAR), 1, 8))::BIGINT
      / {float(1 << 32)!r} AS u
  FROM lens CROSS JOIN reps),
weighted AS (
  SELECT rep,
    (CASE {whens} ELSE {len(_POIS)} END) AS w, n_tokens
  FROM draws),
means AS (
  SELECT rep, sum(w * n_tokens)::DOUBLE / sum(w) AS m
  FROM weighted GROUP BY rep),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, rep) AS rn FROM means),
bounds AS (
  SELECT min(m) AS ci_lo, max(m) AS ci_hi FROM ranked
  WHERE rn IN ({lo_rank}, {hi_rank})),
base AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(n_tokens)::DOUBLE / count(*) AS mean_len
  FROM lens)
SELECT n_docs, mean_len, ci_lo, ci_hi, {n_reps} AS n_replicates
FROM base CROSS JOIN bounds"""
