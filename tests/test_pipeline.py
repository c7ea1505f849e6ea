"""End-to-end KG-construction pipeline tests (BASELINE.json gates:
byte-identical extracted text per url; triple P/R >= 0.95; resumable
checkpoints)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from orionbelt_ontology_builder_spark.pipeline import pages as P
from orionbelt_ontology_builder_spark.pipeline import run as R
from orionbelt_ontology_builder_spark.pipeline.extract import with_extracted_text
from orionbelt_ontology_builder_spark.pipeline.textextract import (
    extract_triples_from_text,
    html_to_text,
)

N_PAGES = 300


@pytest.fixture(scope="module")
def pages_df(spark):
    return P.synthesize_pages(spark, N_PAGES).cache()


def test_pages_deterministic(spark, pages_df):
    again = P.synthesize_pages(spark, N_PAGES)
    assert pages_df.exceptAll(again).count() == 0
    assert again.exceptAll(pages_df).count() == 0


def test_extracted_text_byte_identical_per_url(pages_df):
    """The BASELINE invariant: engine-extracted text == pages.text, per url."""
    checked = with_extracted_text(pages_df)
    mismatches = checked.filter(F.col("extracted_text") != F.col("text")).count()
    assert mismatches == 0


def test_extractor_pure_python_matches(pages_df):
    row = pages_df.orderBy("url").first()
    assert html_to_text(row["html"]) == row["text"]
    trips = extract_triples_from_text(row["text"])
    assert len(trips) >= 3


def test_combined_regex_matches_per_pattern_loop(pages_df):
    """The production extractor (one alternation regex + keyword line
    prefilter) must match the naive first-pattern-wins per-sentence loop
    exactly — the loop below IS the semantic spec, rebuilt from
    RELATION_PATTERNS."""
    import re

    from orionbelt_ontology_builder_spark.pipeline.textextract import (
        RELATION_PATTERNS,
        _split_sentences,
    )

    compiled = [(re.compile(p), pred) for p, pred in RELATION_PATTERNS]

    def naive(text):
        out = []
        for line in text.split("\n"):
            for sent in _split_sentences(line):
                for rx, pred in compiled:
                    m = rx.match(sent)
                    if m:
                        out.append(
                            (m.group("s").strip(), pred, m.group("o").strip())
                        )
                        break
        return out

    texts = [r["text"] for r in pages_df.select("text").collect()]
    # adversarial shapes: abbreviation dots, multi-sentence lines,
    # keyword-free lines, pattern precedence (Every ... is a ...)
    texts += [
        "Acme Inc. is a Company. Every City is a Place.",
        "no keywords here\nBob works with Alice.",
        "Every Dog is an Animal. Rex is a Dog. Rex is located in Berlin.",
        "lowercase is a sentence.",
        "X. Y is a Z.",
        "",
    ]
    n_triples = 0
    for t in texts:
        assert extract_triples_from_text(t) == naive(t), t
        n_triples += len(naive(t))
    assert n_triples >= 3 * N_PAGES  # the corpus actually exercises it


def test_pipeline_precision_recall(spark, pages_df):
    kg = R.build_kg(pages_df)
    pr = R.precision_recall(kg["edges"], P.ground_truth_triples(N_PAGES))
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_ground_truth_df_matches_set(spark):
    """The distributed truth generator and the driver-side set agree."""
    got = {
        (r["s"], r["p"], r["o"])
        for r in P.ground_truth_df(spark, N_PAGES).collect()
    }
    assert got == P.ground_truth_triples(N_PAGES)


def test_precision_recall_dataframe_truth(spark, pages_df):
    kg = R.build_kg(pages_df)
    pr = R.precision_recall(kg["edges"], P.ground_truth_df(spark, N_PAGES))
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_canonicalization_merges_aliases(spark, pages_df):
    kg = R.build_kg(pages_df)
    cmap = {r["mention"]: r["canonical"] for r in kg["canonical_map"].collect()}
    als = P.entity_aliases(0)
    canons = {cmap.get(a, a) for a in als}
    assert len(canons) == 1, f"aliases of entity 0 not merged: {canons}"


def test_class_hierarchy_output(spark, pages_df):
    kg = R.build_kg(pages_df)
    pairs = {
        (r["child"], r["parent"]) for r in kg["class_hierarchy"].collect()
    }
    assert ("Company", "Organization") in pairs
    assert ("City", "Place") in pairs


def test_checkpoint_resume(spark, pages_df, tmp_path):
    """run_pipeline resumes from its manifest, and its written outputs
    equal build_kg's (one chain behind both entry points)."""
    out = str(tmp_path / "kg_out")
    R.run_pipeline(spark, pages_df, out, n_slices=4)
    manifest = os.path.join(out, "_manifest.jsonl")
    with open(manifest) as fh:
        entries = [json.loads(l) for l in fh]
    assert len(entries) == 4
    assert all(e["n_triples"] > 0 for e in entries)
    raw = spark.read.parquet(os.path.join(out, "raw_triples"))
    assert sum(e["n_triples"] for e in entries) == raw.count()
    assert (
        sum(e["n_urls"] for e in entries)
        == raw.select("source_url").distinct().count()
    )
    n_before = os.path.getsize(manifest)
    # resume: nothing re-runs, manifest unchanged
    R.run_pipeline(spark, pages_df, out, n_slices=4)
    with open(manifest) as fh:
        entries2 = [json.loads(l) for l in fh]
    assert len(entries2) == 4
    # partitioned edges exist with bucket dirs
    edges_dir = os.path.join(out, "edges")
    assert any(d.startswith("bucket=") for d in os.listdir(edges_dir))
    edges = spark.read.parquet(edges_dir)
    assert {"subj", "pred", "obj", "source_url", "warc_ts", "bucket", "salt"} <= set(edges.columns)
    assert edges.count() > 0
    kg = R.build_kg(pages_df)
    cols = ["subj", "pred", "obj", "source_url", "warc_ts"]
    rows = lambda df, cs: sorted(tuple(r) for r in df.select(*cs).collect())
    assert rows(edges, cols) == rows(kg["edges"], cols)
    hier = spark.read.parquet(os.path.join(out, "class_hierarchy"))
    assert rows(hier, ["child", "parent"]) == rows(
        kg["class_hierarchy"], ["child", "parent"]
    )


def test_lineage_carried(spark, pages_df):
    kg = R.build_kg(pages_df)
    row = kg["edges"].first()
    assert row["source_url"].startswith("https://site")
    assert row["warc_ts"] is not None


def test_sampled_hot_detection_salts_hot_subject(spark):
    """Sample-based hot-key detection (the corpus-scale path) must salt a
    genuinely hot subject across multiple sub-buckets, and exact mode must
    agree on which subjects are hot."""
    from orionbelt_ontology_builder_spark.pipeline.materialize import (
        with_partitioning,
    )

    hot_n, cold_n = 5000, 5
    edges = spark.range(hot_n + cold_n).select(
        F.when(F.col("id") < hot_n, F.lit("HotEntity"))
        .otherwise(F.concat(F.lit("cold"), F.col("id")))
        .alias("subj"),
        F.lit("relatedTo").alias("pred"),
        F.concat(F.lit("obj"), F.col("id")).alias("obj"),
    )
    sampled = with_partitioning(
        edges, hot_threshold=1000, hot_sample_fraction=0.05, salt_n=8
    )
    hot_salts = (
        sampled.filter(F.col("subj") == "HotEntity")
        .select("salt").distinct().count()
    )
    assert hot_salts > 1, "hot subject not spread over salts by sampled path"
    cold_salts = {
        r["salt"]
        for r in sampled.filter(F.col("subj") != "HotEntity")
        .select("salt").distinct().collect()
    }
    assert cold_salts == {0}
    exact = with_partitioning(edges, hot_threshold=1000, salt_n=8)
    exact_hot = {
        r["subj"]
        for r in exact.filter(F.col("salt") != 0).select("subj").distinct().collect()
    }
    assert exact_hot == {"HotEntity"}


def test_slice_col_uses_existing_bucket_column(spark, pages_df, tmp_path):
    """A pre-bucketed pages table (Iceberg bucket partition column on a
    cluster) drives slicing directly — same outputs, prunable filter."""
    from orionbelt_ontology_builder_spark.pipeline.materialize import (
        run_extraction_with_checkpoints,
    )

    out = str(tmp_path / "bucketed")
    bucketed = pages_df.withColumn(
        "page_bucket", F.pmod(F.xxhash64("url"), F.lit(3))
    )
    raw = run_extraction_with_checkpoints(
        spark, bucketed, out, n_slices=3, slice_col="page_bucket"
    )
    assert raw.count() > 0
    with open(os.path.join(out, "_manifest.jsonl")) as fh:
        entries = [json.loads(l) for l in fh]
    assert len(entries) == 3
    # triple totals match the unbucketed default path
    out2 = str(tmp_path / "hashed")
    raw2 = run_extraction_with_checkpoints(spark, pages_df, out2, n_slices=3)
    assert raw.count() == raw2.count()


def test_extract_links_matches_spec(spark, pages_df):
    """Parsed hrefs == the synthesizer's pure link spec, per page."""
    from orionbelt_ontology_builder_spark.pipeline import links as L

    got = {}
    for r in L.extract_links(pages_df).collect():
        got.setdefault(r["src_url"], []).append(r["dst_url"])
    assert len(got) == N_PAGES
    for i in range(0, N_PAGES, 37):
        assert sorted(got[P.page_url(i)]) == sorted(P.page_links(i))


def test_host_link_graph_counts(spark, pages_df):
    from orionbelt_ontology_builder_spark.pipeline import links as L

    rows = L.host_link_graph(pages_df).collect()
    # recompute expectation from the spec
    from collections import Counter, defaultdict

    n_links = Counter()
    src_pages = defaultdict(set)
    for i in range(N_PAGES):
        src = f"site{i % P.N_SITES}.example"
        for dst_url in P.page_links(i):
            dst = dst_url.split("/")[2]
            n_links[(src, dst)] += 1
            src_pages[(src, dst)].add(i)
    got = {(r["src_host"], r["dst_host"]): (r["n_links"], r["n_src_pages"])
           for r in rows}
    assert got == {k: (v, len(src_pages[k])) for k, v in n_links.items()}
    # every host links to itself (Home + next-on-host anchors)
    assert all(got[(f"site{h}.example", f"site{h}.example")][0] >= 2
               for h in range(min(P.N_SITES, N_PAGES)))


def test_crawl_frontier_politeness_cap_and_candidates(spark, pages_df):
    from orionbelt_ontology_builder_spark.pipeline import links as L

    rows = L.crawl_frontier(pages_df, k_per_host=2).collect()
    crawled = {P.page_url(i) for i in range(N_PAGES)}
    per_host = {}
    for r in rows:
        assert r["url"] not in crawled          # frontier is uncrawled
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
        assert 1 <= r["pos"] <= 2
    assert per_host and max(per_host.values()) <= 2   # politeness cap
    # site roots are linked from every page of the host -> they carry
    # the most inlinks and must win slot 1 on their host
    roots = {r["host"]: r["url"] for r in rows if r["pos"] == 1}
    for host, url in list(roots.items())[:5]:
        assert url == f"https://{host}/"


def test_host_reciprocity_bounds(spark, pages_df):
    from orionbelt_ontology_builder_spark.pipeline import links as L

    rows = L.host_reciprocity(pages_df).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_reciprocal"] <= r["n_out_hosts"] or r["n_out_hosts"] == 0
        assert 0.0 <= r["reciprocity"] <= 1.0


def test_numeric_suffix_guard_blocks_containment_merges(spark):
    """BENCH r4: at 400k entities the false-merge mode is digit-suffix
    containment ('...Trans18479' vs '...Trans184794', shingle Jaccard
    0.90-0.96) — no threshold separates it.  The guard must (a) still
    link every alias variant of one entity (identical normalized
    strings) and (b) never link mentions whose trailing digit runs
    differ, even at J >= 0.9."""
    from orionbelt_ontology_builder_spark.pipeline import linking as L

    mentions = spark.createDataFrame(
        [
            # entity 18479: three alias surface forms
            ("EmberMillsTrans18479",),
            ("Ember MillsTrans18479",),
            ("EmberMillsTrans-18479",),
            # entity 184794: containment trap (J ~0.94 vs the above)
            ("EmberMillsTrans184794",),
            ("Ember MillsTrans184794",),
            ("EmberMillsTrans-184794",),
        ],
        "mention string",
    )
    pairs = L.verified_same_as(mentions).collect()
    sfx = lambda m: m.replace(" ", "").replace("-", "")[-6:]
    cross = [r for r in pairs if sfx(r["m1"]) != sfx(r["m2"])]
    assert cross == [], f"containment pairs leaked: {cross}"
    # every same-entity alias pair linked (3 aliases -> 3 pairs each)
    import itertools

    linked = {(r["m1"], r["m2"]) for r in pairs}
    for ent in ("18479", "184794"):
        forms = sorted(m for (m,) in mentions.collect() if m.endswith(ent))
        for a, b in itertools.combinations(forms, 2):
            assert (a, b) in linked or (b, a) in linked, (a, b)
    # the trap pair clears the Jaccard threshold on its own, so only
    # the guard keeps it out (documents WHY the guard exists)
    trap = spark.createDataFrame(
        [("EmberMillsTrans18479", "EmberMillsTrans184794")], "a string, b string"
    ).select(L.shingles(F.col("a")).alias("a"), L.shingles(F.col("b")).alias("b"))
    inter = F.size(F.array_intersect("a", "b"))
    jac = trap.select(inter / (F.size("a") + F.size("b") - inter)).first()[0]
    assert jac >= L.JACCARD_THRESHOLD


def test_suffix_guard_agreement_across_normalization_classes(spark):
    """Property sweep (VERDICT r4 #8): the guard's zero-recall argument
    is 'true alias variants normalize to the IDENTICAL string, so their
    trailing digit runs agree'.  That argument depends on the
    normalizer: exhaustively mutate alias surfaces through every
    documented normalization class — separator insertion (space /
    hyphen / dot, each boundary position) and case flips — and assert,
    against the Spark-side guard expression itself, that (a) all
    variants of one surface normalize identically and (b) the guard key
    (trailing digit run of the normalized surface) agrees across them,
    including surfaces with INTERNAL digit runs, which must not leak
    into the key.  The containment fixture rides along: distinct digit
    suffixes must yield distinct guard keys."""
    import itertools

    stems = [
        ("EmberMillsTrans", "18479"),
        ("EmberMillsTrans", "184794"),   # containment counterpart
        ("Mk2VariantCorp", "0042"),      # internal digit run
        ("Delta9Gamma7Works", "7"),      # multiple internal runs
        ("PlainStem", "900001"),
    ]
    rows = []
    for ent, (stem, sfx) in enumerate(stems):
        base = stem + sfx
        variants = {base}
        # separator classes at every insertion boundary
        for sep, pos in itertools.product(" -.", range(1, len(base))):
            variants.add(base[:pos] + sep + base[pos:])
        # case-flip classes (normalizer lowercases)
        variants.add(base.upper())
        variants.add(base.lower())
        variants.add(
            "".join(
                c.upper() if i % 2 else c.lower()
                for i, c in enumerate(base)
            )
        )
        rows += [(ent, v) for v in sorted(variants)]

    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "ent int, mention string")
    norm = F.translate(F.lower(F.col("mention")), " -.", "")
    key = F.regexp_extract(norm, "([0-9]+)$", 1)  # the guard expression
    got = (
        df.groupBy("ent")
        .agg(
            F.countDistinct(norm).alias("n_norm"),
            F.countDistinct(key).alias("n_key"),
            F.min(key).alias("key"),
        )
        .orderBy("ent")
        .collect()
    )
    for r in got:
        assert r["n_norm"] == 1, f"normalizer split entity {r['ent']}"
        assert r["n_key"] == 1, f"guard key split entity {r['ent']}"
    keys = {r["ent"]: r["key"] for r in got}
    # trailing-run semantics: internal digit runs stay out of the key
    assert keys[2] == "0042" and keys[3] == "7"
    # containment pair separated by the guard key
    assert keys[0] == "18479" and keys[1] == "184794"
    assert keys[0] != keys[1]


# ------------------------------------------------------------------ #
# incremental update (O(delta) crawl refresh)
# ------------------------------------------------------------------ #


def _edge_rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"])
        for r in df.select("subj", "pred", "obj").collect()
    )


def test_incremental_update_equals_full_rebuild(spark):
    pages = P.synthesize_pages(spark, 400).cache()
    # split on the page id in the url, not row order (deterministic)
    pid = F.regexp_extract("url", "/page/([0-9]+)$", 1).cast("int")
    base = pages.filter(pid < 300)
    delta_pages = pages.filter(pid >= 300)
    assert base.count() + delta_pages.count() == 400

    full = R.build_kg(pages)
    old = R.build_kg(base)
    inc = R.incremental_update(old["raw_triples"], old["canonical_map"], delta_pages)

    assert _edge_rows(inc["edges"]) == _edge_rows(full["edges"])
    got_map = sorted(
        (r["mention"], r["canonical"]) for r in inc["canonical_map"].collect()
    )
    want_map = sorted(
        (r["mention"], r["canonical"]) for r in full["canonical_map"].collect()
    )
    assert got_map == want_map


def test_incremental_update_delta_contract(spark):
    pages = P.synthesize_pages(spark, 400).cache()
    pid = F.regexp_extract("url", "/page/([0-9]+)$", 1).cast("int")
    base, delta_pages = pages.filter(pid < 300), pages.filter(pid >= 300)
    old = R.build_kg(base)
    inc = R.incremental_update(old["raw_triples"], old["canonical_map"], delta_pages)
    # applying the delta contract to the OLD edge table reproduces the
    # applied view: old edges minus the retired (affected) rows' old
    # rewrites, plus edges_delta
    retired = R.rewrite_edges(inc["raw_affected_old"], old["canonical_map"])
    applied = (
        old["edges"].exceptAll(retired).unionByName(inc["edges_delta"])
    )
    assert _edge_rows(applied) == _edge_rows(inc["edges"])


@pytest.mark.parametrize("split", ["md5_split", "all_fresh"])
def test_lsh_candidate_pairs_delta_law(spark, split):
    """probe pairs == full self-join pairs restricted to >=1 fresh side
    (one set of banding constants, bucket cap computed over the FULL
    table).  ``all_fresh`` makes every mention a probe, so the probe
    path must equal the full path: banding that drifts between the
    two fails it."""
    from orionbelt_ontology_builder_spark.pipeline.linking import (
        lsh_candidate_pairs,
        mention_signatures,
    )

    pages = P.synthesize_pages(spark, 300).cache()
    kg_raw = R.build_kg(pages)["raw_triples"]
    # prefix-related stems sit at J~0.7, the false-candidate mode the
    # banding shape is chosen against: 6x4 and 4x6 banding give
    # different candidate sets on them (the KG surfaces alone do not)
    stems = spark.createDataFrame(
        [
            (f"Northwind Logistics {s}{i}",)
            for s in ("Meta", "Metro", "Metric", "Meter", "Metal", "Method")
            for i in range(3)
        ],
        "mention string",
    )
    mentions = (
        kg_raw.select(F.col("subj_surface").alias("mention"))
        .unionByName(kg_raw.select(F.col("obj_surface").alias("mention")))
        .unionByName(stems)
        .distinct()
    )
    if split == "md5_split":
        fresh = mentions.filter(F.md5("mention").substr(1, 1) < "4")
    else:
        fresh = mentions
    sigs = mention_signatures(mentions).localCheckpoint(eager=False)
    full = {(r["m1"], r["m2"]) for r in lsh_candidate_pairs(sigs).collect()}
    fresh_set = {r["mention"] for r in fresh.collect()}
    want = {p for p in full if p[0] in fresh_set or p[1] in fresh_set}
    got = {
        (r["m1"], r["m2"])
        for r in lsh_candidate_pairs(sigs, fresh).collect()
    }
    assert got == want
    assert want  # the split actually exercises the probe path
