"""Repository benchmark: closed-loop workloads, one client each.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Workloads (see README.md for the layer map and the budget behind them)
  kg_build          ``run.run_pipeline`` over synthetic crawl pages into a
                    fresh output directory (extract, link, CC, rewrite,
                    partitioned writes) — the production build path.
  ontology_session  an editor session (views, validation, reasoning,
                    closure, churn/merge, rename, N-Triples round trip)
                    over ``relational.induce_triples`` and a seeded edit
                    of it.

Every workload reports the same end-to-end metrics (``--trace 0``):
``setup_s`` (session start, input synthesis and a warm-up on the
workload's own code path), ``op_p50_s`` (median timed operation: a
build, an editor op) and ``cycle_s`` (median cycle: a build, a whole
session).  A run times at least the workload's ``min_cycles`` cycles
(see README.md for why no more fit).  ``--trace 1``
instead runs an untraced and a traced cycle and reports per-layer
metrics (see ``spans.py``) plus the tracing overhead.

Spark runs in this process at ``local[nproc]`` with the program's own
session settings; the traced run adds only a plain-JSON event log.  All
files go under ``.bench_work/`` in the checkout.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
PKG = "orionbelt_ontology_builder_spark"

#: kg_build corpus (pages), and the window and slice count of its
#: warm-up build: a cold build costs the same at any size, and two slices
#: warm it about as well as eight in two thirds of the time
BUILD_PAGES = 10_000
WARM_PAGES = 1_000
WARM_SLICES = 2
#: ontology_session graph: 5 regions, 25 nations, customers, suppliers
SESSION_CUSTOMERS = 3_000
SESSION_SUPPLIERS = 200
MB = float(1 << 20)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# md5 CPU probe: the host's effective core count right now
# ---------------------------------------------------------------------------


def _md5_chain(n: int) -> float:
    t0 = time.perf_counter()
    h = b"probe"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def _probe_worker(n: int) -> None:
    """A probe worker's side: ready, wait for the go line, report."""
    _md5_chain(n)  # idle vCPUs wake slowly: run once before the timed chain
    print("ready", flush=True)
    sys.stdin.readline()
    print(_md5_chain(n), flush=True)


def cpu_probe(n: int = 300_000) -> dict:
    """One md5 chain alone, then one per core in separate processes that
    start together; ``effective_cores`` = cores x (alone / mean parallel).
    The workers are plain subprocesses, waited for here: no helper
    process (such as multiprocessing's resource tracker) outlives the
    probe."""
    alone = _md5_chain(n)
    workers = [
        subprocess.Popen(
            [sys.executable, "-c", f"from perfbench.run import _probe_worker; _probe_worker({n})"],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(nproc())
    ]
    try:
        for w in workers:
            w.stdout.readline()
        for w in workers:
            w.stdin.write("go\n")
            w.stdin.flush()
        par = statistics.mean(float(w.stdout.readline()) for w in workers)
    finally:
        for w in workers:
            w.stdin.close()
            try:
                w.wait(timeout=30)
            except subprocess.TimeoutExpired:
                w.kill()
                w.wait()
            w.stdout.close()
    return {
        "alone_s": round(alone, 4),
        "parallel_s": round(par, 4),
        "effective_cores": round(len(workers) * alone / par, 2),
    }


# ---------------------------------------------------------------------------
# process bookkeeping: every process this run starts ends before it exits
# ---------------------------------------------------------------------------


def descendants(root: int) -> set:
    """PIDs of every live process below ``root`` in the process tree."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is a finished child of ours."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child (e.g. re-parented after its parent exited)
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; SIGKILL whatever is
    left after ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _alive(p)}
    for p in left:
        log(f"killing leftover process {p}")
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, 9)
    while left:
        time.sleep(0.05)
        left = {p for p in left if _alive(p)}


# ---------------------------------------------------------------------------
# Spark session and storage bookkeeping
# ---------------------------------------------------------------------------


def start_spark():
    from orionbelt_ontology_builder_spark import session as S

    spark = S.get_spark(app="perfbench", cpus=nproc())
    S.ship_package(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (closing its stdin ends the py4j gateway process)."""
    from pyspark import SparkContext

    # the JVM's own children (the PySpark worker daemon) are re-parented
    # when it exits: note them now, to wait for them after
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(started)


def persistent_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def storage_mb(spark, keep: set) -> float:
    """Memory + disk held by persisted/checkpointed RDDs outside ``keep``."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() not in keep) / MB


def release(spark, keep: set) -> None:
    """Drop every cached DataFrame and every persisted or locally
    checkpointed RDD outside ``keep`` (``clearCache`` alone leaves
    ``localCheckpoint`` blocks behind)."""
    spark.catalog.clearCache()
    for rid, rdd in persistent_rdds(spark).items():
        if rid not in keep:
            rdd.unpersist(True)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# workloads: setup(spark) makes the inputs; warm_up(); cycle(tracer) ->
# record with per-op walls; check(record) -> one message per failed op;
# hooks(tracer) -> the layer functions a traced cycle wraps
# ---------------------------------------------------------------------------


class KgBuild:
    name = "kg_build"
    min_cycles = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.n_builds = 0

    def setup(self, spark):
        from perfbench import inputs as I

        self.spark = spark
        self.pages = I.pages_df(spark, self.seed, BUILD_PAGES).localCheckpoint(eager=True)
        self.truth = None

    def warm_up(self):
        """One build on a small window of other pages, through the same
        ``run_pipeline`` path (slices, manifest, writes) as the cycles."""
        from orionbelt_ontology_builder_spark.pipeline import run as R
        from perfbench import inputs as I

        pages = I.pages_df(self.spark, self.seed + 1, WARM_PAGES).localCheckpoint(eager=True)
        R.run_pipeline(self.spark, pages, fresh_dir("warm"), n_slices=WARM_SLICES)

    def hooks(self, tracer):
        return pipeline_hooks(tracer)

    def cycle(self, tracer=None):
        from orionbelt_ontology_builder_spark.pipeline import run as R

        self.n_builds += 1
        out = fresh_dir("builds", str(self.n_builds))
        t0 = time.perf_counter()
        R.run_pipeline(self.spark, self.pages, out)
        wall = time.perf_counter() - t0
        return {"ops": [wall], "wall": wall, "out": out}

    def check(self, rec) -> list[str]:
        from orionbelt_ontology_builder_spark.pipeline import run as R
        from perfbench import inputs as I

        spark, out = self.spark, rec["out"]
        if self.truth is None:  # kept across cycles, like the inputs
            before = set(persistent_rdds(spark))
            self.truth = I.truth_df(spark, self.seed, BUILD_PAGES).localCheckpoint(eager=True)
            self.keep |= set(persistent_rdds(spark)) - before
        errors = []
        with open(os.path.join(out, "_manifest.jsonl")) as fh:
            slices = sorted(json.loads(line)["slice"] for line in fh if line.strip())
        if slices != sorted(f"slice_{i}" for i in range(8)):
            errors.append(f"manifest lists {slices}")
        edges = spark.read.parquet(os.path.join(out, "edges"))
        pr = R.precision_recall(edges, self.truth)
        if pr["precision"] != 1.0 or pr["recall"] != 1.0:
            errors.append(f"P/R {pr}")
        hier = {
            (r.child, r.parent)
            for r in spark.read.parquet(os.path.join(out, "class_hierarchy")).collect()
        }
        if not I.TAXONOMY_PAIRS <= hier:
            errors.append(f"class_hierarchy misses {I.TAXONOMY_PAIRS - hier}")
        return ["; ".join(errors)] if errors else []


def pipeline_hooks(tracer):
    """(module, attribute) -> traced wrapper for every pipeline layer
    ``run_pipeline`` calls into."""
    from orionbelt_ontology_builder_spark.pipeline import (
        canonicalize,
        linking,
        materialize,
        run,
    )

    w = tracer.wrap
    return [
        ((materialize, "run_extraction_with_checkpoints"), w(materialize.run_extraction_with_checkpoints, "extract", "extract.rows_out")),
        ((linking, "mention_signatures"), w(linking.mention_signatures, "linking.signatures", "linking.signatures.rows_in")),
        ((linking, "lsh_candidate_pairs"), w(linking.lsh_candidate_pairs, "linking.candidates", "linking.candidates.pairs")),
        ((linking, "verify_pairs"), w(linking.verify_pairs, "linking.verify", "verified")),
        ((canonicalize, "connected_components"), w(canonicalize.connected_components, "fixpoint.cc", "fixpoint.cc.nodes")),
        ((run, "rewrite_edges"), w(run.rewrite_edges, "canonicalize.rewrite")),
        ((materialize, "write_edges"), w(materialize.write_edges, "materialize.write")),
        ((materialize, "write_class_hierarchy"), w(materialize.write_class_hierarchy, "materialize.write")),
    ]


class OntologySession:
    """An editor session over the induced graph (``base``) and its
    seeded edit (``incoming``).  Each op forces its result the way an
    editor shows it (collected rows, a count or a graph digest) and
    returns it for the checks."""

    name = "ontology_session"
    min_cycles = 1  # nine timed ops

    def __init__(self, seed: int):
        self.seed = seed
        self.refs = None
        self.reasoned = {}

    def setup(self, spark):
        from orionbelt_ontology_builder_spark.sources import relational
        from perfbench import inputs as I

        self.spark = spark
        self.tables = fresh_dir("tables")
        I.write_tables(self.tables, self.seed, SESSION_CUSTOMERS, SESSION_SUPPLIERS)
        self.edits = I.session_edits(self.seed, SESSION_CUSTOMERS)
        self.rename = I.rename_target(self.seed, SESSION_CUSTOMERS)
        self.base = relational.induce_triples(spark, self.tables).localCheckpoint(eager=True)
        self.incoming = I.apply_edits_spark(self.base, self.edits).localCheckpoint(eager=True)

    def ops(self):
        """(layer, name, op) in session order."""
        from orionbelt_ontology_builder_spark.model import RDFS
        from orionbelt_ontology_builder_spark.operators import (
            fixpoint,
            mutations,
            reasoning,
            setops,
            validation,
            views,
        )
        from orionbelt_ontology_builder_spark.sources import ntriples

        g, base = self.incoming, self.base

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        def digest(df):
            return rows(setops.graph_digest(df))

        def nt_roundtrip():
            path = fresh_dir("nt")
            ntriples.write_nt(g, path)
            return digest(ntriples.read_nt(self.spark, path))

        def reason(profile):
            # the (checkpointed) output stays for the law checks
            self.reasoned[profile], n = reasoning.apply_reasoning(g, profile=profile)
            return n

        return [
            ("views", "statistics", lambda: rows(views.get_statistics(g))),
            ("validation", "validate", lambda: rows(validation.validate(g))),
            ("validation", "literals", lambda: rows(validation.validate_literals(g))),
            ("reasoning", "rdfs", lambda: reason("rdfs")),
            ("fixpoint.closure", "superclasses", lambda: rows(fixpoint.expand_superclasses(g, RDFS.subClassOf))),
            ("setops", "triple_churn", lambda: rows(setops.triple_churn(base, g))),
            ("setops", "merge", lambda: digest(setops.merge_graphs(base, g))),
            ("mutations", "rename", lambda: digest(mutations.rename_resource(g, *self.rename))),
            ("ntriples", "roundtrip", nt_roundtrip),
        ]

    def warm_up(self):
        for _layer, _name, fn in self.ops():
            fn()

    def hooks(self, tracer):
        return []

    def cycle(self, tracer=None):
        ops, results = [], []
        self.reasoned = {}
        for layer, _name, fn in self.ops():
            t0 = time.perf_counter()
            with tracer.span(layer) if tracer else contextlib.nullcontext():
                res = fn()
            ops.append(time.perf_counter() - t0)
            results.append(res)
        return {"ops": ops, "wall": sum(ops), "results": results, "reasoned": self.reasoned}

    def check(self, rec) -> list[str]:
        if self.refs is None:
            self.refs = self.references()
        failed = []
        for (layer, name, _fn), got in zip(self.ops(), rec["results"]):
            if layer == "reasoning":
                ok = got > 0 and self.is_closure(rec["reasoned"][name], name)
            else:
                want = self.refs[name]
                ok = want(got) if callable(want) else got == want
            if not ok:
                failed.append(f"{layer}.{name}: got {str(got)[:200]}")
        return failed

    def is_closure(self, out, profile) -> bool:
        """Law: the reasoning output contains its input and is a
        fixpoint (reasoning over it infers nothing)."""
        from orionbelt_ontology_builder_spark.model import TRIPLE_COLS
        from orionbelt_ontology_builder_spark.operators import reasoning

        g = self.incoming.select(*TRIPLE_COLS)
        if not g.exceptAll(out.select(*TRIPLE_COLS)).isEmpty():
            return False
        return reasoning.apply_reasoning(out, profile=profile)[1] == 0

    def references(self):
        """Op name -> the expected result, from DuckDB twins over the same
        tables and the same edits.  Reasoning is checked by
        ``is_closure``."""
        from orionbelt_ontology_builder_spark.model import OWL, RDF, RDFS, SKOS
        from orionbelt_ontology_builder_spark.operators import setops, validation
        from perfbench import inputs as I

        con = I.duck_graphs(self.tables, self.edits)
        try:
            def one(sql):
                return con.execute(sql).fetchall()

            def digest(src):
                return sorted(one(f"WITH {src}, {setops.graph_digest_sql('t')}"))

            def count(sql):
                return one(f"SELECT count(*) FROM ({sql})")[0][0]

            def typed(t):
                return count(f"SELECT DISTINCT subj FROM inc_g WHERE pred = '{RDF.type}' AND obj = '{t}'")

            kinds = (OWL.Class, OWL.ObjectProperty, OWL.DatatypeProperty, OWL.NamedIndividual,
                     OWL.Restriction, SKOS.ConceptScheme, SKOS.Concept)
            stats = [(*map(typed, kinds), count("SELECT * FROM inc_g"))]
            literals = sorted(one(validation.validate_literals_sql("inc_g")))
            churn = sorted(one("WITH " + setops.triple_churn_sql(
                "ga AS (SELECT * FROM base_g)", "gb AS (SELECT * FROM inc_g)")))
            merged = digest("t AS (SELECT * FROM base_g UNION SELECT * FROM inc_g)")
            old, new = self.rename
            renamed = digest(
                f"t AS (SELECT DISTINCT CASE WHEN subj = '{old}' THEN '{new}' ELSE subj END AS subj, "
                f"pred, CASE WHEN obj = '{old}' AND obj_kind = 'uri' THEN '{new}' ELSE obj END AS obj, "
                "obj_kind, obj_lang, obj_dt FROM inc_g)"
            )
            incoming = digest("t AS (SELECT * FROM inc_g)")
            sub = one(f"SELECT subj, obj FROM inc_g WHERE pred = '{RDFS.subClassOf}'")
            ancestors = closure_of(sub)
            issues = I.expected_issues(con, ancestors)
        finally:
            con.close()
        # the edit batch is built to make every rule fire: a twin that
        # finds fewer issue types is itself wrong
        missing = I.ISSUE_TYPES - {kind for _sev, kind, _s in issues}
        if missing:
            raise AssertionError(f"validate reference lacks {sorted(missing)}")
        return {
            "statistics": stats,
            "validate": lambda got: sorted(tuple(r[:3]) for r in got) == issues,
            "literals": literals,
            "superclasses": sorted((c, a) for c, anc in ancestors.items() for a in anc),
            "triple_churn": churn,
            "merge": merged,
            "rename": renamed,
            "roundtrip": incoming,
        }


def closure_of(edges) -> dict[str, set]:
    """Node -> itself and every node it reaches over ``edges``, for the
    nodes of ``edges`` (``expand_superclasses``'s reflexive closure)."""
    parents: dict[str, set] = {}
    for s, o in edges:
        parents.setdefault(s, set()).add(o)
    out = {}
    for node in {x for e in edges for x in e}:
        todo, seen = [node], {node}
        while todo:
            for p in parents.get(todo.pop(), ()):
                if p not in seen:
                    seen.add(p)
                    todo.append(p)
        out[node] = seen
    return out


WORKLOADS = {w.name: w for w in (KgBuild, OntologySession)}


# ---------------------------------------------------------------------------
# main loop
# ---------------------------------------------------------------------------


def prepare_env(trace: bool) -> None:
    """Keep every file Spark and the program write inside the checkout;
    pin the master to this host's cores; enable the event log for the
    traced run."""
    from perfbench.spans import event_log_conf

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # every JVM, the launcher too: temp files in the checkout, no
    # hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    if trace:
        args = []
        for k, v in event_log_conf(os.path.join(WORK, "events")).items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import tempfile

    from pyspark import cloudpickle

    from perfbench import inputs, spans

    tempfile.tempdir = None  # re-read TMPDIR
    # the page generator is defined here, not in the shipped package
    cloudpickle.register_pickle_by_value(inputs)
    wl = WORKLOADS[name](seed)
    attempted, failures, cycles, traced = 0, [], [], []
    # set-up: session start, input synthesis, then one warm-up on the
    # workload's own code path
    t0 = time.perf_counter()
    spark = start_spark()
    log(f"session up {time.perf_counter() - t0:.2f}s")
    try:
        wl.setup(spark)
        wl.keep = set(persistent_rdds(spark))
        log(f"inputs ready {time.perf_counter() - t0:.2f}s")
        wl.warm_up()
        release(spark, wl.keep)
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f}s")

        # closed loop for at least --seconds and min_cycles cycles; the
        # traced run alternates plain and traced cycles, one of each
        # at least
        deadline = time.perf_counter() + seconds
        while (
            len(cycles) < (1 if trace else wl.min_cycles)
            or time.perf_counter() < deadline
            or (trace and not traced)
        ):
            tracer = spans.Tracer(spark) if trace and len(cycles) > len(traced) else None
            try:
                if tracer is not None:
                    with spans.patched(wl.hooks(tracer)):
                        rec = wl.cycle(tracer)
                else:
                    rec = wl.cycle()
                rec["leaked_mb"] = storage_mb(spark, wl.keep)
                bad = wl.check(rec)
            except Exception:  # noqa: BLE001 — a failed cycle is counted, not fatal
                traceback.print_exc()
                attempted += 1
                failures.append("cycle raised")
                break
            finally:
                release(spark, wl.keep)
            attempted += len(rec["ops"])
            failures += bad
            (traced if tracer is not None else cycles).append((rec, tracer))
            log(
                f"cycle {'traced' if tracer else 'plain'} {rec['wall']:.2f}s "
                f"ops={len(rec['ops'])} leaked={rec['leaked_mb']:.1f}MB"
            )
    finally:
        stop_spark(spark)
    for msg in failures:
        log(f"FAILED {msg}")

    if trace:
        metrics = trace_metrics(cycles, traced)
        metrics.update(layer_metrics(spans.read_event_log(os.path.join(WORK, "events")), traced))
    else:
        plain = [r for r, _ in cycles]
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (median([x for r in plain for x in r["ops"]]), "s"),
            "cycle_s": (median([r["wall"] for r in plain]), "s"),
        }
    return {
        "correct": not failures and attempted > 0,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def trace_metrics(cycles, traced) -> dict:
    plain_wall = median([r["wall"] for r, _ in cycles])
    traced_wall = median([r["wall"] for r, _ in traced])
    counts = [t.counts for _, t in traced]
    signed = median([c["linking.signatures.rows_in"] for c in counts])
    pairs = median([c["linking.candidates.pairs"] for c in counts])
    return {
        "trace.overhead_s": (traced_wall - plain_wall, "s"),
        "trace.span_coverage": (median([t.wall() / r["wall"] for r, t in traced]), "ratio"),
        # storage is read from the untraced cycles: the spans persist
        # each layer's output on top of what the program keeps
        "leaked_cache_mb": (median([r["leaked_mb"] for r, _ in cycles]), "MB"),
        "extract.rows_out": (median([c["extract.rows_out"] for c in counts]), "count"),
        "linking.signatures.rows_in": (signed, "count"),
        "linking.candidates.pairs": (pairs, "count"),
        "linking.verify.yield": (median([c["verified"] for c in counts]) / pairs if pairs else 0.0, "ratio"),
        "fixpoint.cc.nodes": (median([c["fixpoint.cc.nodes"] for c in counts]), "count"),
        "materialize.write.mb": (median([dir_mb(r.get("out")) for r, _ in traced]), "MB"),
    }


def layer_metrics(events, traced) -> dict:
    from perfbench import spans

    folded = [spans.fold(events, t.spans) for _, t in traced]
    out = {}
    for layer in spans.LAYERS:
        for f in spans.FIELDS:
            unit = {"jobs": "count", "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB"}.get(f, "s")
            out[f"{layer}.{f}"] = (median([d[layer][f] for d in folded]), unit)
    return out


def dir_mb(path) -> float:
    if not path:
        return 0.0
    total = 0
    for sub in ("edges", "class_hierarchy"):
        for root, _dirs, files in os.walk(os.path.join(path, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"{PKG}/ not found next to perfbench/: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    prepare_env(bool(args.trace))
    print("cpu_probe_before " + json.dumps(cpu_probe()), flush=True)
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        try:
            print("cpu_probe_after " + json.dumps(cpu_probe()), flush=True)
        finally:
            wait_gone(descendants(os.getpid()))
            shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    log("done")
    return 0


if __name__ == "__main__":
    sys.exit(main())
