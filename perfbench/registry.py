"""Registry panel: eight queries of the frozen canary list
(tools/bench_canary CANARY_V2) over seeded tables at sf 0.1, each query's
plan executed into the ``noop`` sink, with sweep-scoped memos released at
the end of a pass. Outputs are checked against each query's DuckDB
oracle."""

from __future__ import annotations

import contextlib
import time

from tracing import Patches, Tracer, persistent_rdd_ids, storage_mb, wrap_memos

SF = 0.1


PANEL = frozenset({
    "lsh_candidate_pairs", "curation_end_to_end", "ndcg_retrieval_eval",
    "jackknife_ratio_readout", "pricing_summary", "rolling_revenue_anomaly",
    "join_key_skew_profile", "minhash_jaccard_estimate_error",
})


def panel() -> tuple[str, ...]:
    """Eight of the 22 queries of the frozen canary list, in its order: a
    builder and a reader of the shared minhash memos (lsh_candidate_pairs,
    minhash_jaccard_estimate_error), the text and dedup tier
    (curation_end_to_end, ndcg_retrieval_eval), an experiment readout and
    relational queries. It leaves out the queries over the shared
    correlation graph (adamic_adar_link_prediction, pagerank_corr_graph):
    on some seeds operators.correlation raises DIVIDE_BY_ZERO in them (see
    README.md). The whole list does not fit the benchmark's time budget."""
    from tools.bench_canary import CANARY_V2

    return tuple(q for q in CANARY_V2 if q in PANEL)


def _release(spark, fixtures: bool) -> None:
    from drug_target_discovery_spark.caching import release_caches

    release_caches(fixtures=fixtures)
    if not fixtures:
        # same between-query GC as bench.py, outside the timed window
        spark.sparkContext._jvm.System.gc()


def run_pass(spark, sf_dir: str, collect: bool = False, tracer: Tracer | None = None) -> dict:
    """One pass over the panel. Each query's plan build (``q.fn``
    returning, eager memo builds included) and its noop execution are
    timed. With ``collect``, each of the ``checked_queries`` is then
    collected again, outside the timed window and before its memos are
    released, for ``check``. With a tracer, spans wrap the
    build and the execution and the caching layer's memo builds."""
    from drug_target_discovery_spark.queries.registry import all_queries

    reg = all_queries()
    checked = set(checked_queries()) if collect else set()
    sc = spark.sparkContext
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    res = {
        "wall": 0.0, "per_query": {}, "raised": [], "outputs": {}, "memo_before": {},
        "storage_mb": 0.0,
    }
    baseline = persistent_rdd_ids(sc) if tracer else set()
    for name in panel():
        if tracer:
            res["memo_before"][name] = persistent_rdd_ids(sc) - baseline
        t = time.perf_counter()
        try:
            with span("queries.query", query=name):
                with span("queries.plan_build", query=name):
                    df = reg[name].fn(spark, sf_dir)
                with span("queries.exec", query=name):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # one failing query must not hide the rest
            df = None
            res["raised"].append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        res["per_query"][name] = time.perf_counter() - t
        res["wall"] += res["per_query"][name]
        if df is not None and name in checked:
            res["outputs"][name] = df.toPandas()
        if tracer:
            res["storage_mb"] = max(res["storage_mb"], storage_mb(sc))
        _release(spark, fixtures=False)
    _release(spark, fixtures=True)
    if tracer:
        res["persisted_after_release"] = len(persistent_rdd_ids(sc) - baseline)
    return res


def checked_queries() -> list[str]:
    """Panel queries with a scale-generic DuckDB oracle (the fixture-sf
    oracles encode sf0.01 constants)."""
    from drug_target_discovery_spark.queries.registry import all_queries
    from tools.check_correctness import FIXTURE_ORACLES

    reg = all_queries()
    return [n for n in panel() if reg[n].oracle is not None and n not in FIXTURE_ORACLES]


def oracle_results(sf_dir: str) -> dict:
    """Each checked query's oracle run by DuckDB, on one thread, over the
    same parquet files."""
    import duckdb

    from drug_target_discovery_spark.queries.registry import all_queries
    from drug_target_discovery_spark.sources.tables import TABLES

    reg = all_queries()
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: con.sql(reg[n].oracle).df() for n in checked_queries()}
    finally:
        con.close()


def check(outputs: dict, oracle: dict) -> tuple[list[str], dict[str, str]]:
    """Compare collected outputs with their oracle results (exact values,
    order-insensitive)."""
    from tools.check_correctness import compare

    errs: list[str] = []
    status: dict[str, str] = {}
    for name, want in oracle.items():
        if name not in outputs:
            status[name] = "not run"
            continue
        ok, msg = compare(outputs[name], want)
        status[name] = "exact" if ok else "mismatch"
        if not ok:
            errs.append(f"{name}: {msg}")
    return errs, status


def traced_pass(spark, sf_dir: str) -> tuple[Tracer, dict]:
    tr = Tracer(spark.sparkContext)
    p = Patches()
    memos = wrap_memos(p, tr)
    try:
        res = run_pass(spark, sf_dir, tracer=tr)
    finally:
        p.restore()
    res["memo_builds"] = memos["builds"]
    return tr, res
