"""Reference-shaped end-to-end run summary (VERDICT r5 #8).

The reference writes ``results/latest/summary.txt`` (pipeline2.py's report
stage; see summary.txt:1-29: dataset stats, differential counts, network
size, top-10 targets). This module renders the same report from one full
``DrugTargetPipeline`` run on the deterministic synthetic GEO fixture, so
a byte-identical golden (tests/golden/pipeline_summary.txt) pins the whole
chain end-to-end — every count and every ranked score — on top of the
stage-by-stage oracle coverage.

Deterministic by construction: the fixture is seeded, the fake enrichment
client is hash-derived, scores round half-up at 6dp, and the ranking
tie-breaks on gene symbol.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.rounding import rnd

_TOP_N = 10


def render_pipeline_summary(spark: SparkSession) -> str:
    """Run the full chain on the synthetic fixture (memoized sweep-scope)
    and render the reference-shaped text report."""
    from drug_target_discovery_spark.queries.pipelineq import _full_chain

    out = _full_chain(spark)
    gene_cond = out["gene_cond"]
    diff = out["differential"]

    first = gene_cond.select((F.size("case") + F.size("control")).alias("n")).first()
    n_samples = first["n"] if first else 0
    n_genes = diff.count()
    sig = _sig_counts(diff)
    n_nodes = out["network_nodes"].count()
    n_edges = out["network_edges"].count()
    top = (
        out["validated_targets"]
        .orderBy(F.desc("drugability_score"), F.asc("gene"))
        .select("gene", rnd(F.col("drugability_score"), 6).alias("score"))
        .limit(_TOP_N)
        .collect()
    )

    lines = [
        "# Drug Target Discovery Pipeline Summary",
        "",
        "Dataset: synthetic GEO fixture (deterministic, seeded)",
        "",
        "## Dataset Statistics",
        f"- Samples: {n_samples}",
        f"- Genes analyzed: {n_genes}",
        "",
        "## Differential Expression Analysis",
        f"- Significant genes: {sig['n_sig']}",
        f"- Up-regulated: {sig['n_up']}",
        f"- Down-regulated: {sig['n_down']}",
        "",
        "## Network Analysis",
        f"- Network nodes: {n_nodes}",
        f"- Network edges: {n_edges}",
        "",
        "## Top Potential Drug Targets",
    ]
    for i, r in enumerate(top, 1):
        lines.append(f"{i}. {r['gene']} (score: {r['score']:.6f})")
    lines.append("")
    return "\n".join(lines)


def _sig_counts(diff) -> dict[str, int]:
    from drug_target_discovery_spark.plans.pipeline import PipelineParams

    p = PipelineParams()
    sig = diff.filter(
        (F.col("adjusted_pvalue") < p.p_threshold)
        & (F.abs("log2FC") > p.fc_threshold)
        & F.col("log2FC").isNotNull()
    )
    row = sig.agg(
        F.count(F.lit(1)).alias("n_sig"),
        F.sum(F.when(F.col("log2FC") > 0, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("log2FC") < 0, 1).otherwise(0)).alias("n_down"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("n_sig", "n_up", "n_down")}
