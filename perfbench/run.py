"""Repository benchmark: the paper's GEO chain at GSE46602 shape through the
CLI, and the registry's canary panel, each on a session sized to the host.

    python3 perfbench/run.py --workload {geo_paper,registry_panel,all}
                             --seed N [--seconds 1] [--trace 0|1]

Untraced runs (--trace 0) report the end-to-end metrics; traced runs
(--trace 1) split the time into the repo's layers from outside the program.
Every run checks its outputs. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; a detail record with the
config stamp, input sizes and spans is written to perfbench/.work/results/.
See perfbench/README.md for what each workload loads and bypasses.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import pickle
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "6g"  # the session.py default (48g) exceeds a 15 GB host
WORKLOADS = ("geo_paper", "registry_panel")

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s"}
# printed and kept in the detail record, not gated (see README.md)
REPORT_ONLY_UNITS = {
    "peak_rss_mb": "MB", "cells_per_s": "cells/s", "queries_per_s": "queries/s",
    "failed_frac": "ratio",
}
PER_LAYER_UNITS = {
    "sources.geo.parse_s": "s",
    "sources.geo.rows_out": "rows",
    "plans.pipeline.preprocess_s": "s",
    "plans.pipeline.map_genes_s": "s",
    "functions.stats.differential_s": "s",
    "operators.correlation.corr_s": "s",
    "operators.correlation.pairs": "count",
    "operators.correlation.edges": "count",
    "operators.correlation.edge_yield": "ratio",
    "graph.centrality.score_s": "s",
    "graph.centrality.nodes": "count",
    "graph.centrality.driver_path": "bool",
    "plans.pipeline.enrich_s": "s",
    "sources.sinks.write_s": "s",
    "queries.plan_build_s": "s",
    "queries.exec_s": "s",
    "caching.memo_build_s": "s",
    "caching.memo_builds": "count",
    "caching.memo_hits": "count",
    "caching.storage_mb": "MB",
    "caching.persisted_rdds_after_release": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.span_coverage": "ratio",
    "trace.driver_only_s": "s",
}


def _since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env() -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY, "tmp": tmp}


def start_session(cfg: dict):
    """session.get_spark plus one trivial job: the program's own factory,
    with java.io.tmpdir kept inside the checkout and the status store
    holding every job of a run."""
    from drug_target_discovery_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and end its JVM. Left alone, the JVM outlives this
    process: it exits only once it sees its stdin close, and then runs
    Spark's shutdown hooks (temp-dir removal) for some seconds more."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (a Python
    worker whose JVM has gone, say), so that _reap_children finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def _reap_children(grace: float = 30.0) -> None:
    """Wait until no child process is left: SIGTERM each at once, SIGKILL
    it after ``grace`` seconds."""
    from tracing import child_pids

    deadline = time.monotonic() + grace
    signalled: dict[int, int] = {}
    while pids := child_pids(os.getpid()):
        for pid in pids:
            sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
            if signalled.get(pid) != sig:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                signalled[pid] = sig
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _git_head() -> str:
    """HEAD of the checkout, "-dirty" if tracked files changed; "unknown"
    when the checkout is not itself a git work tree."""
    def git(*a: str) -> str:
        return subprocess.run(
            ["git", "-C", ROOT, *a], capture_output=True, text=True, timeout=10
        ).stdout.strip()

    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/nonexistent") != \
                os.path.realpath(ROOT):
            return "unknown"
        return git("rev-parse", "HEAD") + ("-dirty" if git("status", "--porcelain", "-uno") else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d



# run by _background in a child interpreter: argv = paths to add, then the
# pickled (function, args) file and the file for the pickled result
_BACKGROUND_MAIN = """
import os, pickle, sys
os.nice(19)
sys.path[:0] = sys.argv[1:3]
with open(sys.argv[3], "rb") as f:
    fn, args = pickle.load(f)
res = fn(*args)
with open(sys.argv[4], "wb") as f:
    pickle.dump(res, f)
"""


@contextlib.contextmanager
def _background(fn, *args):
    """Start ``fn(*args)`` in a child process at the lowest CPU priority, for
    checks that run while a unit is timed: it takes cores the session leaves
    idle and yields them at once when the session wants them. Yields a
    function that waits for the child and returns the result; on the way out
    the child is ended if it still runs, and waited for. (A multiprocessing
    pool would also start a resource tracker process that outlives it.)"""
    d = _fresh_dir("tmp", "background")
    job, out = os.path.join(d, "job.pkl"), os.path.join(d, "result.pkl")
    with open(job, "wb") as f:
        pickle.dump((fn, args), f)
    proc = subprocess.Popen(
        [sys.executable, "-c", _BACKGROUND_MAIN, HERE, ROOT, job, out],
        stdin=subprocess.DEVNULL, stdout=sys.stderr,
    )

    def result():
        if proc.wait() != 0:
            raise RuntimeError(f"background {fn.__name__} exited with {proc.returncode}")
        with open(out, "rb") as f:
            return pickle.load(f)

    try:
        yield result
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


@contextlib.contextmanager
def _phase(rec: dict, name: str):
    """Add the wall time of a block to rec["phases_s"][name]."""
    t = time.perf_counter()
    try:
        yield
    finally:
        phases = rec.setdefault("phases_s", {})
        phases[name] = phases.get(name, 0.0) + time.perf_counter() - t


def _timed_units(unit, args, rec: dict) -> tuple[list[float], list[float], list[list[str]]]:
    """Run ``unit()`` -> (wall, errors) under an RSS sampler of the JVM tree
    until ``--seconds`` have been measured, at least once. BENCHMARK.json
    sets 1 s, so a gated run times exactly one unit, the session's first. A
    traced run takes exactly that one unit before its traced unit: a warm
    untraced twin as well would take a traced geo_paper run too close to
    the 180 s a run may last."""
    from tracing import RssSampler

    walls, peaks, errors = [], [], []
    t_start = time.perf_counter()
    while True:
        rec["loadavg1"].append(_loadavg1())
        with RssSampler(rec["jvm_pid"]) as rss:
            wall, errs = unit(first=not walls)
        walls.append(wall)
        peaks.append(rss.peak_mb)
        errors.append(errs)
        if args.trace or time.perf_counter() - t_start >= args.seconds:
            return walls, peaks, errors


def _layers(spark, tr, wall: float, memo_before: dict | None = None) -> dict:
    """Every per-layer metric: 0 for layers the workload does not touch,
    the Spark stage totals of all spans, and driver-only time."""
    from tracing import spark_metrics

    sc = spark.sparkContext
    tot, rdds = spark_metrics(sc, [s["id"] for s in tr.spans])
    for s in tr.spans:
        s["attrs"]["spark"] = spark_metrics(sc, [s["id"]])[0]
    m = dict.fromkeys(PER_LAYER_UNITS, 0)
    m.update({f"spark.{k}": v for k, v in tot.items()})
    m["trace.driver_only_s"] = max(0.0, wall - tot["executor_run_s"] / sc.defaultParallelism)
    if memo_before is not None:
        # a memo hit: a query's executed stages read a persisted RDD that an
        # earlier query of the pass built
        by_query: dict[str, set[int]] = {}
        for s in tr.spans:
            q = s["attrs"].get("query")
            if q is not None:
                by_query.setdefault(q, set()).update(rdds.get(s["id"], ()))
        m["caching.memo_hits"] = sum(
            len(ids & memo_before.get(q, set())) for q, ids in by_query.items())
    return m


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_geo(spark, args, rec: dict) -> dict:
    import geo

    shape, k = geo.PAPER, 500
    with _phase(rec, "generate"):
        inp = geo.generate(_fresh_dir("inputs", "geo_paper"), shape, args.seed)
    rec["inputs"] = {
        "gen_s": inp.gen_s,
        "matrix_bytes": inp.matrix_bytes,
        "mapping_bytes": inp.mapping_bytes,
        "probes": shape.n_probes,
        "samples": shape.n_samples,
        "mapped_genes": len(set(inp.mapping.values())),
        "n_top_genes": k,
    }

    # every run computes the reference afresh, in a background process at
    # the lowest CPU priority while the session runs the first timed unit,
    # so every timed unit shares the host with it alike
    ref: dict = {}
    with _background(geo.compute_reference, inp, k) as reference:

        def unit(first: bool):
            t = time.perf_counter()
            try:
                run_dir = geo.run_cli(spark, geo.cli_argv(inp, _fresh_dir("out", "timed"), k))
            except Exception as e:  # counted as a failed unit, reported below
                return time.perf_counter() - t, [f"CLI raised {type(e).__name__}: {str(e)[:300]}"]
            wall = time.perf_counter() - t
            with _phase(rec, "check"):
                if not ref:
                    ref.update(reference())
                return wall, geo.check(run_dir, ref)

        walls, peaks, errors = _timed_units(unit, args, rec)
    res = {
        "attempted": len(walls),
        "failed": sum(bool(e) for e in errors),
        "errors": [e for errs in errors for e in errs],
        "walls": walls,
        "e2e": {
            "wall_s": statistics.median(walls),
            "peak_rss_mb": max(peaks),
            "cells_per_s": shape.n_probes * shape.n_samples / statistics.median(walls),
        },
    }
    if args.trace:
        with _phase(rec, "traced"):
            run_dir, tr, counts = geo.traced_cli(
                spark, geo.cli_argv(inp, _fresh_dir("out", "traced"), k))
        errs = geo.check(run_dir, ref)
        res["attempted"] += 1
        res["failed"] += bool(errs)
        res["errors"] += [f"traced run: {e}" for e in errs]
        geo_m = geo.layer_metrics(tr, counts)
        m = _layers(spark, tr, geo_m["trace.wall_s"])
        m.update(geo_m)
        res["layers"] = m
        res["spans"] = tr.export(tr.spans[0]["start"])
    return res


def run_registry(spark, args, rec: dict) -> dict:
    import registry
    import tables_gen

    sf_dir = _fresh_dir("inputs", "registry", f"sf{registry.SF}")
    with _phase(rec, "generate"):
        gen = tables_gen.generate(sf_dir, registry.SF, args.seed)
    n_q = len(registry.panel())
    rec["inputs"] = {**gen, "queries": n_q}

    # DuckDB computes the oracle results in a background process at the
    # lowest CPU priority while the first pass is timed
    with _background(registry.oracle_results, sf_dir) as oracle:

        def unit(first: bool):
            # the first pass also collects every oracle-checked output
            res = registry.run_pass(spark, sf_dir, collect=first)
            rec.setdefault("per_query_s", []).append(res["per_query"])
            errs = res["raised"]
            if first:
                with _phase(rec, "check"):
                    mismatches, rec["oracle_status"] = registry.check(
                        res["outputs"], oracle())
                errs = errs + mismatches
            return res["wall"], errs

        walls, peaks, errors = _timed_units(unit, args, rec)
    # every error names one query: one that raised, or one whose output
    # differs from its oracle
    errors = [e for errs in errors for e in errs]
    attempted = n_q * len(walls)
    out = {
        "attempted": attempted,
        "failed": min(attempted, len(errors)),
        "errors": errors,
        "walls": walls,
        "e2e": {
            "wall_s": statistics.median(walls),
            "peak_rss_mb": max(peaks),
            "queries_per_s": n_q / statistics.median(walls),
        },
    }
    if args.trace:
        with _phase(rec, "traced"):
            tr, res = registry.traced_pass(spark, sf_dir)
        out["attempted"] += n_q
        out["failed"] += len(res["raised"])
        out["errors"] += [f"traced pass: {e}" for e in res["raised"]]
        wall = res["wall"]
        m = _layers(spark, tr, wall, memo_before=res["memo_before"])
        m.update({
            "queries.plan_build_s": tr.total("queries.plan_build"),
            "queries.exec_s": tr.layer_self("queries.exec"),
            "caching.memo_build_s": tr.layer_self("caching.memo_build"),
            "caching.memo_builds": res["memo_builds"],
            "caching.storage_mb": res["storage_mb"],
            "caching.persisted_rdds_after_release": res["persisted_after_release"],
            "trace.wall_s": wall,
            "trace.span_coverage": (
                tr.total("queries.plan_build") + tr.total("queries.exec")) / wall,
        })
        out["layers"] = m
        out["spans"] = tr.export(tr.spans[0]["start"])
    return out


# ---------------------------------------------------------------------------


def run_one(args) -> dict:
    t_proc = time.perf_counter() - _since_process_start()
    cfg = _configure_env()
    spark = start_session(cfg)
    setup_s = time.perf_counter() - t_proc
    import pyspark

    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "loadavg1": [_loadavg1()],
        "config": {
            **{k: v for k, v in cfg.items() if k != "tmp"},
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        },
        "git_head": _git_head(),
        "jvm_pid": spark.sparkContext._gateway.proc.pid,
    }
    try:
        work = run_geo if args.workload == "geo_paper" else run_registry
        res = work(spark, args, rec)
    finally:
        stop_session(spark)
    res["e2e"]["setup_s"] = setup_s
    res["e2e"]["failed_frac"] = res["failed"] / res["attempted"]
    if args.trace:
        untraced = res["walls"][-1]
        res["layers"]["trace.untraced_wall_s"] = untraced
        layers = res["layers"]
        layers["trace.overhead_s"] = layers["trace.wall_s"] - untraced
        # untraced time that no layer span accounts for (see README.md)
        layers["trace.unattributed_s"] = (
            untraced - layers["trace.wall_s"] * layers["trace.span_coverage"])
    rec.update(res)
    return rec


def _emit(rec: dict, trace: bool) -> dict:
    e2e = rec["e2e"]
    print(f"== {rec['workload']} seed={rec['seed']} trace={int(trace)} "
          f"runs={rec['walls']} git={rec['git_head']} loadavg1={rec['loadavg1']}")
    print(f"  inputs: {rec['inputs']}")
    for k, u in {**END_TO_END_UNITS, **REPORT_ONLY_UNITS}.items():
        if k in e2e:
            print(f"  {k:>14} = {e2e[k]:.6g} {u}")
    for e in rec["errors"]:
        print(f"  WRONG/FAILED: {e}")
    if trace:
        metrics = {k: {"value": rec["layers"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        for k, v in metrics.items():
            print(f"  {k:>38} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "drug_target_discovery_spark")):
        print("perfbench: the drug_target_discovery_spark package is not beside "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    _become_subreaper()
    # a SIGTERM unwinds through the same clean-up as an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        rec = run_one(args)
    finally:
        _reap_children()
    line = _emit(rec, bool(args.trace))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    print(json.dumps(line))
    return 0


def _run_all(args) -> int:
    """Each workload in its own process, one after another; the last line
    merges them with metric names prefixed by workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        lines = r.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if r.returncode != 0 or not lines:
            return r.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


if __name__ == "__main__":
    sys.exit(main())
