"""Materialization + checkpoint/resume (north_rule: edges partitioned by
subject hash with explicit hot-entity salting; resumable from
per-partition checkpoints carrying lineage + metrics).

Extraction runs per input slice (``run_extraction_with_checkpoints``):
each pending slice is one observed parquet write job, whose observed
counts (``n_triples`` written, ``n_pages`` read) fill the slice's
``_manifest.jsonl`` line, and up to ``SLICE_WORKERS`` slices are written
concurrently.  Manifest lines land in completion order.  Each slice
scans the pages table unless ``slice_col`` names a partition column.

Local testing writes parquet snapshot dirs; on a cluster the same code
targets Iceberg tables (``writeTo(...).append()``) — the layout contract
(subject-hash bucket column + salt) is identical.

Why salting: subject popularity at web scale is zipfian — a single hot
entity (a country, a celebrity) can dominate one hash bucket and serialize
the write/downstream join.  ``salt = pmod(xxhash64(pred, obj), salt_n)``
for hot subjects spreads one subject's rows over ``salt_n`` sub-buckets;
consumers that group by subject re-aggregate across salts (cheap second
stage over far fewer rows).
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def with_partitioning(
    edges: DataFrame,
    n_buckets: int = 64,
    salt_n: int = 8,
    hot_threshold: int = 100000,
    hot_sample_fraction: float | None = None,
) -> DataFrame:
    """edges + (bucket, salt) columns.  Hot subjects (row count >=
    hot_threshold) get a content-derived salt, others salt=0.

    Hot-subject detection: exact mode (``hot_sample_fraction=None``) runs
    ``groupBy(subj).count()`` over the full edge table — a complete extra
    shuffle, fine at test scale, wasteful at corpus scale.  Zipfian hot
    keys are precisely the keys a small uniform sample cannot miss: at
    fraction f a subject with >= ``hot_threshold`` rows surfaces
    ~``hot_threshold*f`` times (Chernoff-concentrated — 100k rows sampled
    at 1e-3 yields 100±10), so cutting the sampled counts at half the
    expected value finds every truly hot key w.h.p. while shuffling only
    the sampled rows.  False positives just salt a warm key unnecessarily
    (a slightly wider second-stage re-aggregation — harmless); false
    negatives are negligible for genuinely hot keys.  Pass e.g. ``1e-3``
    on corpus-scale runs; the seed is fixed so runs are reproducible."""
    if hot_sample_fraction is None:
        counts = edges.groupBy("subj").agg(F.count("*").alias("n_rows"))
        cut = float(hot_threshold)
    else:
        counts = (
            edges.sample(fraction=hot_sample_fraction, seed=42)
            .groupBy("subj")
            .agg(F.count("*").alias("n_rows"))
        )
        cut = max(1.0, hot_threshold * hot_sample_fraction / 2.0)
    hot = counts.filter(F.col("n_rows") >= cut).select(
        "subj", F.lit(True).alias("is_hot")
    )
    return (
        edges.join(F.broadcast(hot), "subj", "left")
        .withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot"),
                F.pmod(F.xxhash64("pred", "obj"), F.lit(salt_n)),
            ).otherwise(F.lit(0)),
        )
        .drop("is_hot")
    )


def write_edges(edges: DataFrame, out_dir: str) -> None:
    """Write the edge table partitioned by subject-hash bucket (+salt)."""
    (
        with_partitioning(edges)
        .repartition("bucket", "salt")
        .write.mode("overwrite")
        .partitionBy("bucket", "salt")
        .parquet(os.path.join(out_dir, "edges"))
    )


def write_class_hierarchy(hierarchy: DataFrame, out_dir: str) -> None:
    """Write the (child, parent) class pairs (``run.class_hierarchy``)."""
    (
        # schema-level table: distinct (child, parent) class pairs number in
        # the thousands even for a trillion-document corpus, so one output
        # file is correct — the coalesce runs AFTER the distinct's shuffle
        # and therefore doesn't narrow the aggregation's parallelism
        hierarchy.coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "class_hierarchy"))
    )


# --------------------------------------------------------------------------
# checkpoint manifest (per-partition resume)
# --------------------------------------------------------------------------

#: slice writes in flight at once.  Each write is one Spark job; while one
#: slice's job waits on the driver (planning, commit, metrics), the others'
#: tasks keep the executors busy.  Four matched eight on a 4-core host.
SLICE_WORKERS = 4


class CheckpointManifest:
    """Tracks processed input slices so a killed run resumes where it
    stopped.  One JSON line per completed slice with lineage + metrics
    (north_rule), appended whole under a lock: slices finish
    concurrently, so line order is completion order and readers key on
    ``slice``.  Local file here; a tiny Iceberg/Delta table on a
    cluster — the protocol (idempotent slice claim, metrics row per
    slice) is the same."""

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "_manifest.jsonl")
        self._lock = threading.Lock()
        os.makedirs(out_dir, exist_ok=True)

    def done_slices(self) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as fh:
            return {json.loads(line)["slice"] for line in fh if line.strip()}

    def mark_done(self, slice_id: str, metrics: dict) -> None:
        line = json.dumps({"slice": slice_id, **metrics}) + "\n"
        with self._lock, open(self.path, "a") as fh:
            fh.write(line)


def run_extraction_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_slices: int = 8,
    slice_col: str | None = None,
) -> DataFrame:
    """Slice pages by url hash; extract each unprocessed slice, write its
    raw triples under ``raw_triples/slice=<i>``, record metrics.  Re-running
    after a kill skips completed slices (idempotent).  Returns the full
    raw-triples DataFrame (all slices).

    Each pending slice costs one Spark job, its parquet write, and up to
    :data:`SLICE_WORKERS` of those jobs run at once.  The write job also
    reports the slice's manifest metrics through observed counts, so no
    slice is read back: ``n_triples`` counts the extracted rows and
    ``n_pages`` the pages the slice consumed (its input lineage, pages
    that yield no triple included).  Observed metrics cannot count
    distinct values, so the manifest records pages read, not distinct
    source urls written.  A slice is marked done only after its write
    commits.  If a slice fails, the other slices still finish and are
    marked, then the first failure (in slice order) is raised.

    ``slice_col``: name of an EXISTING integer column in ``[0, n_slices)``
    to slice on — on a cluster, the pages Iceberg table's own bucket
    partition column (``bucket(n, url)``).  With it, each slice's filter is
    a partition predicate and prunes to that slice's files; the computed
    ``xxhash64(url)`` fallback cannot prune, so the default path scans the
    pages table once per slice (acceptable only when the input isn't
    physically bucketed — the resume granularity is worth one column)."""
    from .extract import extract_raw_triples

    manifest = CheckpointManifest(out_dir)
    done = manifest.done_slices()
    raw_dir = os.path.join(out_dir, "raw_triples")
    if slice_col is not None:
        sliced = pages.withColumn("slice", F.col(slice_col))
    else:
        sliced = pages.withColumn(
            "slice", F.pmod(F.xxhash64("url"), F.lit(n_slices))
        )

    def write(sid, raw, path, n_triples, n_pages) -> None:
        raw.write.mode("overwrite").parquet(path)
        manifest.mark_done(sid, {**n_triples.get, **n_pages.get})

    # plans are built here, on the calling thread: extract_raw_triples
    # ships the package zip, whose check-then-add is not thread-safe
    pending = []
    for i in range(n_slices):
        sid = f"slice_{i}"
        if sid in done:
            continue
        n_pages, n_triples = Observation(), Observation()
        part = (
            sliced.filter(F.col("slice") == i)
            .drop("slice")
            .observe(n_pages, F.count(F.lit(1)).alias("n_pages"))
        )
        raw = extract_raw_triples(part).observe(
            n_triples, F.count(F.lit(1)).alias("n_triples")
        )
        path = os.path.join(raw_dir, f"slice={i}")
        pending.append((sid, raw, path, n_triples, n_pages))
    if pending:
        with ThreadPoolExecutor(min(len(pending), SLICE_WORKERS)) as pool:
            # one wrapper per job: each copies the caller's local
            # properties (its job group) into its own object, so the
            # concurrent SQL executions do not share one
            futures = [
                pool.submit(inheritable_thread_target(spark)(write), *job)
                for job in pending
            ]
        for f in futures:  # all have finished: raise the first failure
            f.result()
    return spark.read.option("basePath", raw_dir).parquet(
        *[os.path.join(raw_dir, f"slice={i}") for i in range(n_slices)]
    )
