"""GEO workloads: seeded Series Matrix + mapping CSV pushed through the CLI
(``drug_target_discovery_spark.__main__.main``), checked against the
independent pandas reference (``tools/_geo_reference``)."""

from __future__ import annotations

import contextlib
import glob
import math
import os
import sys

import numpy as np
import pandas as pd

from geo_gen import GeoShape, generate
from tracing import Patches, Tracer, materialize, wrap_memos

# GSE46602 shape: 54,675 probes x 50 samples (36 case / 14 control),
# ~81.6 % of probes mapped to ~20k symbols, 1,294 planted genes.
PAPER = GeoShape(
    n_probes=54_675, n_samples=50, n_case=36, n_genes=20_000, mapped_frac=0.816,
    n_planted=1_294, n_modules=40,
)

def cli_argv(inp, out_dir: str, n_top_genes: int) -> list[str]:
    return [
        "--matrix-file", inp.matrix_path, "--mapping-csv", inp.mapping_path,
        "--output-dir", out_dir, "--n-top-genes", str(n_top_genes), "--enrich", "fake",
    ]


def run_cli(spark, argv: list[str], tracer: Tracer | None = None) -> str:
    """One CLI invocation; returns the run directory it wrote. Sweep-scoped
    memos the pipeline cached are released afterwards, as a fresh CLI
    process would start without them."""
    from drug_target_discovery_spark.__main__ import main
    from drug_target_discovery_spark.caching import release_caches

    out_root = argv[argv.index("--output-dir") + 1]
    root = tracer.span("cli.main") if tracer else contextlib.nullcontext()
    try:
        # the CLI prints its run directory; keep stdout for the result line
        with root, contextlib.redirect_stdout(sys.stderr):
            rc = main(argv)
    finally:
        release_caches(fixtures=True)
    if rc != 0:
        raise RuntimeError(f"CLI exited with {rc}")
    runs = sorted(glob.glob(os.path.join(out_root, "run_*")))
    if len(runs) != 1:
        raise RuntimeError(f"expected one run directory under {out_root}, found {runs}")
    return runs[0]


# ---------------------------------------------------------------------------
# Traced CLI run: one span per public stage call, each stage's result forced
# inside its span so the span owns the stage's execution.
# ---------------------------------------------------------------------------


def traced_cli(spark, argv: list[str]) -> tuple[str, Tracer, dict]:
    import drug_target_discovery_spark.graph.centrality as centrality
    import drug_target_discovery_spark.plans.pipeline as pipeline
    import drug_target_discovery_spark.sources.geo as geo_src
    import drug_target_discovery_spark.sources.sinks as sinks

    tr = Tracer(spark.sparkContext)
    counts: dict = {"driver_path": 0}
    P = pipeline.DrugTargetPipeline

    def stage(name, force=True, after=None):
        def factory(orig):
            def w(*a, **k):
                with tr.span(name) as rec:
                    out = orig(*a, **k)
                    if force:
                        out, rec["attrs"]["rows"] = materialize(out)
                if after:
                    after(rec, a, out)
                return out
            return w
        return factory

    def parsed(rec, a, out):
        counts["parse_rows"] = rec["attrs"]["rows"]

    def corr_done(rec, a, out):
        counts["corr_edges"] = rec["attrs"]["rows"]

    def scored(rec, a, out):
        counts["nodes"] = rec["attrs"]["rows"]

    def fused(rec, a, out):
        counts["driver_path"] = 1

    p = Patches()
    p.wrap(geo_src, "parse_geo_series_matrix", stage("sources.geo.parse", after=parsed))
    p.wrap(geo_src, "read_probe_mapping_csv", stage("sources.geo.parse"))
    p.wrap(P, "run", stage("plans.pipeline.run", force=False))
    p.wrap(P, "preprocess", stage("plans.pipeline.preprocess"))
    p.wrap(P, "map_probes_to_genes", stage("plans.pipeline.map_genes"))
    p.wrap(P, "attach_condition", stage("plans.pipeline.map_genes"))
    p.wrap(P, "differential_expression", stage("functions.stats.differential"))
    p.wrap(P, "significant_genes", stage("plans.pipeline.select"))
    p.wrap(P, "select_network_genes", stage("plans.pipeline.select"))
    p.wrap(P, "build_network", stage("plans.pipeline.build_network", force=False))
    p.wrap(pipeline, "corr_edges", stage("operators.correlation.corr", after=corr_done))
    p.wrap(P, "score_targets", stage("graph.centrality.score", after=scored))
    p.wrap(centrality, "centralities_fused_driver",
           stage("graph.centrality.fused_driver", force=False, after=fused))
    p.wrap(P, "validate_targets", stage("plans.pipeline.enrich"))
    memos = wrap_memos(p, tr)
    for fn in ("write_csv", "write_gexf", "write_summary_report"):
        p.wrap(sinks, fn, stage("sources.sinks.write", force=False))
    try:
        out = run_cli(spark, argv, tr)
    finally:
        p.restore()
    counts["memo_builds"] = memos["builds"]
    return out, tr, counts


LAYERS = {
    "sources.geo.parse_s": "sources.geo.parse",
    "plans.pipeline.preprocess_s": "plans.pipeline.preprocess",
    "plans.pipeline.map_genes_s": "plans.pipeline.map_genes",
    "functions.stats.differential_s": "functions.stats.differential",
    "operators.correlation.corr_s": "operators.correlation.corr",
    "graph.centrality.score_s": {"graph.centrality.score", "graph.centrality.fused_driver"},
    "plans.pipeline.enrich_s": "plans.pipeline.enrich",
    "sources.sinks.write_s": "sources.sinks.write",
}


def layer_metrics(tr: Tracer, counts: dict) -> dict:
    root = next(s for s in tr.spans if s["name"] == "cli.main")
    wall = root["end"] - root["start"]
    m = {k: tr.layer_self(v) for k, v in LAYERS.items()}
    # the self-join evaluates the upper triangle over the top-K genes, which
    # are the nodes score_targets ranks
    nodes = counts.get("nodes", 0)
    pairs, edges = nodes * (nodes - 1) // 2, counts.get("corr_edges", 0)
    m.update({
        "sources.geo.rows_out": counts.get("parse_rows", 0),
        "operators.correlation.pairs": pairs,
        "operators.correlation.edges": edges,
        "operators.correlation.edge_yield": edges / pairs if pairs else 0.0,
        "graph.centrality.nodes": nodes,
        "graph.centrality.driver_path": counts["driver_path"],
        "caching.memo_build_s": tr.layer_self("caching.memo_build"),
        "caching.memo_builds": counts["memo_builds"],
        "trace.wall_s": wall,
        "trace.span_coverage": 1.0 - tr.self_times()[root["id"]] / wall,
    })
    return m


# ---------------------------------------------------------------------------
# Reference and output checks
# ---------------------------------------------------------------------------


def _betai(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) by Lentz's continued fraction."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x >= (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betai_cf(b, a, 1.0 - x, front) / b
    return _betai_cf(a, b, x, front) / a


def _betai_cf(a: float, b: float, x: float, front: float) -> float:
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (
            m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m)),
        ):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h


def t_sf_scalar(t: np.ndarray, df: np.ndarray) -> np.ndarray:
    """Two-sided Student-t tail, one element at a time in plain floats.
    Same quantity as functions.stats.t_sf_numpy; the reference calls it once
    per gene with 1-element arrays, where the array version spends most of
    its time on per-call overhead."""
    return np.array([
        _betai(d / 2.0, 0.5, d / (d + tt * tt)) for tt, d in zip(np.ravel(t), np.ravel(df))
    ])


def compute_reference(inp, n_top_genes: int) -> dict:
    """Run tools/_geo_reference on the generated values; returns the parts
    the checks compare. The reference calls the t tail once per gene with
    1-element arrays; it is given ``t_sf_scalar`` for that."""
    import tools._geo_reference as R
    from drug_target_discovery_spark.plans.pipeline import PipelineParams

    params = PipelineParams(n_top_genes=n_top_genes)
    saved = R.t_sf_numpy
    R.t_sf_numpy = t_sf_scalar
    try:
        ref = R.reference_compute(inp.values, inp.mapping, inp.condition, params)
    finally:
        R.t_sf_numpy = saved
    val = R.reference_validated_targets(ref["composite"], params)
    return {
        "diff": {g: [r["log2FC"], r["pvalue"], r["adjusted_pvalue"]]
                 for g, r in ref["diff"].iterrows()},
        "sig": sorted(ref["sig"].index),
        "composite": ref["composite"],
        "validated": val[["gene", "drugability_score"]].values.tolist(),
    }


def _read_csv(run_dir: str, name: str) -> pd.DataFrame:
    parts = glob.glob(os.path.join(run_dir, f"{name}.csv", "part-*.csv"))
    if len(parts) != 1:
        raise ValueError(f"{name}.csv: expected one part file, found {len(parts)}")
    return pd.read_csv(parts[0], keep_default_na=False, na_values=[""])


def _close(a: float, b: float, rel: float = 1e-6, abs_: float = 1e-12) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or math.isnan(a)) and (b is None or math.isnan(b))
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


def _ordered(genes: list[str], score: dict, tol: float = 1e-9) -> bool:
    """genes in descending reference score; scores closer than tol (ties
    up to float rounding) may come in either order."""
    return all(score[x] >= score[y] - tol for x, y in zip(genes, genes[1:]))


def check(run_dir: str, ref: dict) -> list[str]:
    """Compare the CSVs one CLI run wrote with the reference. Returns the
    list of mismatches (empty when the run is correct)."""
    errs: list[str] = []
    diff = _read_csv(run_dir, "differential")
    got = {r.gene: (r.log2FC, r.pvalue, r.adjusted_pvalue) for r in diff.itertuples()}
    if set(got) != set(ref["diff"]):
        errs.append(f"differential: gene sets differ ({len(got)} vs {len(ref['diff'])})")
    else:
        bad = [g for g, want in ref["diff"].items()
               if not all(_close(x, y) for x, y in zip(got[g], want))]
        if bad:
            errs.append(f"differential: {len(bad)} genes differ beyond 1e-6, e.g. {bad[0]}")
    sig = sorted(_read_csv(run_dir, "significant")["gene"])
    if sig != ref["sig"]:
        errs.append(f"significant: {len(sig)} genes vs reference {len(ref['sig'])}")
    ts = _read_csv(run_dir, "target_scores")
    comp = ref["composite"]
    if set(ts["gene"]) != set(comp):
        errs.append("target_scores: node sets differ")
    else:
        bad = [g for g, c in zip(ts["gene"], ts["composite_score"]) if abs(c - comp[g]) > 1e-6]
        if bad:
            errs.append(f"target_scores: {len(bad)} composites differ beyond 1e-6")
        if not _ordered(list(ts["gene"]), comp):
            errs.append("target_scores: order differs from the reference")
    val = _read_csv(run_dir, "validated_targets")
    want = [g for g, _ in ref["validated"]]
    if list(val["gene"]) != want:
        errs.append("validated_targets: top-target order differs from the reference")
    return errs
