"""The drug-target discovery pipeline as pure DataFrame transform
composition (SURVEY §3: the reference's nine mutable-state stages,
pipeline2.py:1148-1230, become referentially-transparent functions whose
"IR" is Catalyst's logical plan).

Every constant the reference hardcodes is a parameter with the reference
default (SURVEY §7.1): NA threshold 0.2 (pipeline2.py:484-486), log2
trigger 100 (:488-491), corr threshold 0.7 (:708), top 500 genes (:663),
top 20 validated (:963), drugability weights 0.6/0.4 (:988-991),
significance adj-p<0.05 & |log2FC|>1 (:639-643).

Scale notes: the expression matrix travels as one row per probe carrying a
dense ``ARRAY<DOUBLE>`` over the samples in header order (after the gene
collapse, one row per gene). The sample axis is bounded by the study; the
probe/gene axis is the one that grows, and it is the partitioned one.

- Row-local, no shuffle: the NA filter, median imputation, conditional log2
  and z-score (stage 2), the case/control split (a positional select), and
  the Welch moments (stage 4) each read one row. The log2 trigger is the one
  global aggregate: a single max, broadcast back as one row.
- One shuffle: the probe->gene collapse (stage 3) joins the mapping
  broadcast and groups by gene, shuffling one array per mapped probe, then
  takes the element-wise median per gene.
- Bounded GEMM: the correlation network is built only after the top-K cut
  (cardinality reduction before the O(K^2) pair space); the K x samples
  block is standardised once and r is one matrix product
  (``operators.correlation.corr_edges``).
- The differential table (one row per gene) goes through the Arrow t-CDF
  UDF and the BH window program.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drug_target_discovery_spark.functions.stats import (
    array_mean,
    array_median,
    array_var,
    bh_fdr,
    minmax_scale,
    student_t_two_sided_p,
    welch_from_moments,
    zip_scalar,
)
from drug_target_discovery_spark.graph.centrality import (
    betweenness_centrality,
    degree_centrality,
    eigenvector_centrality,
)
from drug_target_discovery_spark.operators.correlation import corr_edges


@dataclass
class PipelineParams:
    na_threshold: float = 0.2          # min fraction of present cells per gene
    log2_trigger: float = 100.0        # apply log2(x+1) if global max exceeds
    p_threshold: float = 0.05          # BH-adjusted significance
    fc_threshold: float = 1.0          # |log2FC| cut
    n_top_genes: int = 500             # network node budget
    corr_threshold: float = 0.7        # |r| edge predicate
    corr_min_periods: int = 3
    n_top_targets: int = 20            # validated target budget
    drug_weight: float = 0.6           # drugability = w_d*drugs + w_a*assoc
    assoc_weight: float = 0.4


class DrugTargetPipeline:
    """Composable pipeline. Each stage is DataFrame -> DataFrame; run them
    individually (the reference's programmatic mode, SURVEY §3.2) or via
    :meth:`run` for the full chain."""

    def __init__(self, params: PipelineParams | None = None):
        self.params = params or PipelineParams()

    # ---- stage 2: preprocess (pipeline2.py:476-498) ---------------------
    def preprocess(self, expr: DataFrame) -> DataFrame:
        """NA-threshold filter (P2) -> per-probe median imputation (A2) ->
        conditional log2 (P3) -> per-probe z-score (T1, ddof=0).

        Row-local over (probe_id, values): no shuffle, no window. The
        global max behind the log2 trigger is one aggregate, broadcast back
        as a 1-row table."""
        p = self.params
        v = F.col("values")
        # P2: keep probes with at least int(na_threshold * samples) present
        # cells (pandas dropna(thresh=...), pipeline2.py:484-486)
        kept = expr.filter(
            F.size(F.array_compact(v)) >= F.floor(F.lit(p.na_threshold) * F.size(v))
        )
        # A2: median-impute missing cells within the probe
        imputed = kept.select(
            "probe_id",
            zip_scalar(v, array_median(v), lambda x, m: F.coalesce(x, m)).alias("values"),
        )
        # P3: conditional log2(x+1) on a broadcast global max
        gmax = imputed.agg(F.max(F.array_max("values")).alias("_gmax"))
        logged = imputed.crossJoin(F.broadcast(gmax)).select(
            "probe_id",
            F.when(
                F.col("_gmax") > p.log2_trigger, F.transform(v, lambda x: F.log2(x + 1))
            )
            .otherwise(v)
            .alias("values"),
        )
        # T1: z-score per probe, population stddev (sklearn ddof=0). A
        # constant probe (max == min; its float mean need not equal its
        # value) and a probe with no value at all standardise to 0.0.
        stats = logged.select(
            "probe_id",
            "values",
            array_mean(v).alias("_mu"),
            F.coalesce(F.array_max(v) == F.array_min(v), F.lit(True)).alias("_flat"),
        )
        mu = F.col("_mu")
        scale = F.struct(mu.alias("mu"), F.sqrt(array_var(v, mu, 0)).alias("sd"))
        return stats.select(
            "probe_id",
            F.when(F.col("_flat"), F.transform(v, lambda x: F.lit(0.0)))
            .otherwise(zip_scalar(v, scale, lambda x, s: (x - s["mu"]) / s["sd"]))
            .alias("values"),
        )

    # ---- stage 3: probe -> gene (pipeline2.py:500-538) ------------------
    def map_probes_to_genes(self, expr: DataFrame, mapping: DataFrame) -> DataFrame:
        """Broadcast join (J1; unmapped probes drop out — the reference's
        UNKNOWN_ sentinel is just a NULL marker, P4) + per-gene element-wise
        exact median over the gene's probe vectors (A1). The group-by is the
        chain's only shuffle: one array per mapped probe."""
        probes = (
            expr.join(F.broadcast(mapping), "probe_id")
            .groupBy(F.col("gene_symbol").alias("gene"))
            .agg(F.collect_list("values").alias("_probes"))
        )
        first = F.col("_probes")[0]
        return probes.select(
            "gene",
            F.when(F.size("_probes") == 1, first)
            .otherwise(
                F.transform(
                    first,
                    lambda _, i: array_median(F.transform("_probes", lambda a: a[i])),
                )
            )
            .alias("values"),
        )

    # ---- sample reconciliation (J2, pipeline2.py:361-389) ---------------
    def attach_condition(self, gene_vec: DataFrame, meta: DataFrame) -> DataFrame:
        """(gene, case, control): the case and control samples picked out
        of each gene's vector by their positions, header order kept. Only
        samples present in both tables and carrying a condition survive
        (the reference's set-intersection)."""
        picked = {"case": set(), "control": set()}
        for r in meta.select("position", "condition").collect():
            if r["position"] is not None and r["condition"] in picked:
                picked[r["condition"]].add(r["position"])

        def select(positions: set[int]):
            cells = [F.col("values")[i] for i in sorted(positions)]
            return F.array(*cells) if cells else F.array().cast("array<double>")

        return gene_vec.select(
            "gene",
            select(picked["case"]).alias("case"),
            select(picked["control"]).alias("control"),
        )

    # ---- stage 4: differential expression (pipeline2.py:540-661) --------
    def differential_expression(self, gene_cond: DataFrame) -> DataFrame:
        """Welch t per gene from row-local array moments (T2) -> two-sided p
        (Arrow-batched t CDF) -> BH-FDR (T3) -> (gene, log2FC, pvalue,
        adjusted_pvalue)."""
        means = gene_cond.select(
            "gene",
            "case",
            "control",
            array_mean(F.col("case")).alias("mean_case"),
            array_mean(F.col("control")).alias("mean_control"),
        )
        moments = means.select(
            "gene",
            F.size("case").alias("n_case"),
            F.size("control").alias("n_control"),
            "mean_case",
            "mean_control",
            array_var(F.col("case"), F.col("mean_case"), 1).alias("var_case"),
            array_var(F.col("control"), F.col("mean_control"), 1).alias("var_control"),
        )
        t = moments.select("gene", *welch_from_moments())
        withp = t.withColumn("pvalue", student_t_two_sided_p("t_stat", "t_df"))
        adj = bh_fdr(withp, "pvalue", "adjusted_pvalue")
        return adj.select(
            "gene",
            F.col("log2fc").alias("log2FC"),
            "pvalue",
            "adjusted_pvalue",
        )

    def significant_genes(self, diff: DataFrame) -> DataFrame:
        """P5 significance filter with parameterized thresholds (fixing the
        reference's hardcoding quirk, pipeline2.py:639-643), deterministic
        gene order (K2)."""
        p = self.params
        return (
            diff.filter(
                (F.col("adjusted_pvalue") < p.p_threshold)
                & (F.abs("log2FC") > p.fc_threshold)
                & F.col("log2FC").isNotNull()
            )
            .orderBy("gene")
        )

    # ---- stage 5: network construction (pipeline2.py:663-720) -----------
    def select_network_genes(
        self, gene_cond: DataFrame, significant: DataFrame
    ) -> DataFrame:
        """Top-K gene selection: significant genes first (K2); if none,
        fall back to top-K by variance (A6/K1) — the reference's fallback
        at pipeline2.py:683-686."""
        p = self.params
        sig = significant.select("gene").orderBy("gene").limit(p.n_top_genes)
        if sig.take(1):
            return sig
        vals = gene_cond.select("gene", F.concat("case", "control").alias("_x"))
        x = F.col("_x")
        return (
            vals.select("gene", array_var(x, array_mean(x), 1).alias("_v"))
            .filter(F.col("_v").isNotNull())
            .orderBy(F.desc("_v"), F.asc("gene"))
            .limit(p.n_top_genes)
            .select("gene")
        )

    def build_network(
        self, gene_cond: DataFrame, top_genes: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(nodes, edges): restrict to top genes (broadcast semi-join),
        Pearson over the conditioned samples, |r| > threshold (A7+P7+G1)."""
        p = self.params
        sub = gene_cond.join(F.broadcast(top_genes), "gene", "left_semi").select(
            "gene", F.concat("case", "control").alias("values")
        )
        edges = corr_edges(
            sub, "gene", "values",
            threshold=p.corr_threshold, min_periods=p.corr_min_periods,
        )
        nodes = top_genes.select(F.col("gene").alias("node"))
        return nodes, edges.select(
            F.col("g1").alias("src"), F.col("g2").alias("dst"), "r", "weight"
        )

    # ---- stage 6: network analysis (pipeline2.py:722-792) ---------------
    def score_targets(
        self, nodes: DataFrame, edges: DataFrame, driver_threshold: int = 2_000
    ) -> DataFrame:
        """All three centralities -> min-max scale -> composite mean ->
        ranked desc with deterministic tie-break (G2-G4, T4, T5, K3).

        Small graphs (the reference's top-K construction bounds nodes at
        n_top_genes<=500) take the fused driver path: one edge-list collect,
        all three centralities in numpy/pure-Python, one createDataFrame —
        vs ~20 tiny Spark jobs for the distributed program. The threshold is
        a few thousand nodes because the fused path runs exact Brandes
        serially (O(V·E) in pure Python); past it, betweenness stays on the
        source-parallel mapInPandas path. Empty graphs also take the
        distributed path (typed empty result, no pandas schema inference)."""
        e = edges.select("src", "dst")
        n_nodes = nodes.count()
        cent_cols = ["degree_centrality", "betweenness_centrality", "eigenvector_centrality"]
        if 0 < n_nodes <= driver_threshold:
            from drug_target_discovery_spark.graph.centrality import (
                centralities_fused_driver,
            )

            pdf = centralities_fused_driver(e, nodes, normalized=True)
            # min-max + composite stay driver-side too (same sklearn
            # constant-column->0 convention as minmax_scale)
            for c in cent_cols:
                rng = pdf[c].max() - pdf[c].min()
                pdf[c + "_scaled"] = (
                    0.0 if rng == 0.0 else (pdf[c] - pdf[c].min()) / rng
                )
            scaled = nodes.sparkSession.createDataFrame(pdf)
        else:
            dc = degree_centrality(e, nodes)
            ec = eigenvector_centrality(e, nodes, max_iter=1000, tol=1e-6)
            bc = betweenness_centrality(e, nodes, normalized=True)
            joined = dc.join(ec, "node").join(bc, "node")
            scaled = minmax_scale(joined, cent_cols)
        return (
            scaled.select(
                F.col("node").alias("gene"),
                "degree_centrality",
                "betweenness_centrality",
                "eigenvector_centrality",
                (
                    (
                        F.col("degree_centrality_scaled")
                        + F.col("betweenness_centrality_scaled")
                        + F.col("eigenvector_centrality_scaled")
                    )
                    / 3.0
                ).alias("composite_score"),
            )
            .orderBy(F.desc("composite_score"), F.asc("gene"))
        )

    # ---- stage 7: validation enrichment (pipeline2.py:944-1021) ---------
    def validate_targets(
        self,
        target_scores: DataFrame,
        client: Callable[[str], tuple[int, float]],
    ) -> DataFrame:
        """Top-K slice -> external enrichment via mapInPandas (S8/J7) ->
        drugability score (T6). ``client(gene) -> (num_known_drugs,
        avg_association_score)`` is injected: tests pass a deterministic
        fake; production passes an HTTP client with retry/rate-limit. The
        enrichment runs on a <=K-row slice — scale never matters here, the
        limit comes FIRST (SURVEY §4 'limit before expensive external
        calls')."""
        import pandas as pd

        from drug_target_discovery_spark.sources.geo import valid_gene_symbol

        p = self.params
        top = (
            target_scores.select("gene", "composite_score")
            .filter(valid_gene_symbol("gene"))  # P8, pipeline2.py:794-827
            .orderBy(F.desc("composite_score"), F.asc("gene"))
            .limit(p.n_top_targets)
        )
        dw, aw = p.drug_weight, p.assoc_weight

        def enrich(pdf_iter):
            for pdf in pdf_iter:
                drugs, assoc = [], []
                for g in pdf["gene"]:
                    nd, aa = client(g)
                    drugs.append(nd)
                    assoc.append(aa)
                pdf = pdf.copy()
                pdf["num_known_drugs"] = pd.array(drugs, dtype="int64")
                pdf["avg_association_score"] = pd.array(assoc, dtype="float64")
                yield pdf

        schema = (
            "gene STRING, composite_score DOUBLE, "
            "num_known_drugs BIGINT, avg_association_score DOUBLE"
        )
        enriched = top.mapInPandas(enrich, schema=schema)
        return (
            enriched.withColumn(
                "drugability_score",
                dw * F.col("num_known_drugs") + aw * F.col("avg_association_score"),
            )
            .orderBy(F.desc("drugability_score"), F.asc("gene"))
        )

    # ---- full chain ------------------------------------------------------
    def run(
        self,
        expr: DataFrame,
        meta: DataFrame,
        mapping: DataFrame,
        client: Callable[[str], tuple[int, float]] | None = None,
    ) -> dict[str, DataFrame]:
        """Stages 2-7 composed; returns every intermediate (the reference
        writes each to CSV — S5 — callers can sink whichever they need).
        ``normalized`` is (probe_id, values) and ``gene_expression`` is
        (gene, case, control), both array-valued."""
        normalized = self.preprocess(expr)
        gene_vec = self.map_probes_to_genes(normalized, mapping)
        from drug_target_discovery_spark.caching import fixture_cache

        # the four caches below back every returned DataFrame (and the
        # registry's memoized pipeline outputs) — sweep-scoped: released by
        # caching.release_caches(fixtures=True)
        gene_cond = fixture_cache(self.attach_condition(gene_vec, meta))
        # cache the differential table: it is one row per gene and every
        # downstream stage re-derives
        # from it — the significance probe (take(1)), the top-K cut, and each
        # centrality's node actions would otherwise re-execute the Welch +
        # BH + t-CDF chain once per action
        diff = fixture_cache(self.differential_expression(gene_cond))
        sig = self.significant_genes(diff)
        # top is <= n_top_genes rows by construction: cache so the three
        # centralities and the correlation block all reuse one materialization
        top = fixture_cache(self.select_network_genes(gene_cond, sig))
        nodes, edges = self.build_network(gene_cond, top)
        # the edge list is small by construction (<= n_top_genes^2 thresholded
        # pairs) and every downstream consumer — three centralities, the
        # composite join, the sink — re-reads it: cache once here
        edges = fixture_cache(edges)
        scores = self.score_targets(nodes, edges)
        out = {
            "normalized": normalized,
            "gene_expression": gene_cond,
            "differential": diff,
            "significant": sig,
            "network_nodes": nodes,
            "network_edges": edges,
            "target_scores": scores,
        }
        if client is not None:
            out["validated_targets"] = self.validate_targets(scores, client)
        return out


def deterministic_fake_client(gene: str) -> tuple[int, float]:
    """Offline enrichment stand-in (S8 must be mockable, SURVEY §5): a
    hash-derived but stable (num_known_drugs, avg_association_score)."""
    import hashlib

    h = int(hashlib.md5(gene.encode()).hexdigest()[:8], 16)
    return h % 50, (h % 1000) / 1000.0


def opentargets_http_client(
    rate_limit_per_sec: float = 5.0, max_retries: int = 3
) -> Callable[[str], tuple[int, float]]:
    """Production enrichment client factory (Ensembl REST + OpenTargets
    GraphQL, reference pipeline2.py:829-942), with the retry/rate-limit the
    reference lacks. Requires network access; import-gated."""
    import time

    try:
        import requests  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("requests not available in this runtime") from e

    last_call = [0.0]

    def client(gene: str) -> tuple[int, float]:  # pragma: no cover — network
        wait = 1.0 / rate_limit_per_sec - (time.time() - last_call[0])
        if wait > 0:
            time.sleep(wait)
        last_call[0] = time.time()
        for attempt in range(max_retries):
            try:
                r = requests.get(
                    "https://rest.ensembl.org/xrefs/symbol/homo_sapiens/" + gene,
                    headers={"Content-Type": "application/json"},
                    timeout=10,
                )
                r.raise_for_status()
                hits = [x for x in r.json() if x.get("id", "").startswith("ENSG")]
                if not hits:
                    return 0, 0.0
                ensembl_id = hits[0]["id"]
                q = """
                query($id: String!) {
                  target(ensemblId: $id) {
                    knownDrugs { uniqueDrugs }
                    associatedDiseases { rows { score } }
                  }
                }"""
                r2 = requests.post(
                    "https://api.platform.opentargets.org/api/v4/graphql",
                    json={"query": q, "variables": {"id": ensembl_id}},
                    timeout=10,
                )
                r2.raise_for_status()
                t = (r2.json().get("data") or {}).get("target") or {}
                n_drugs = (t.get("knownDrugs") or {}).get("uniqueDrugs") or 0
                scores = [
                    row["score"]
                    for row in ((t.get("associatedDiseases") or {}).get("rows") or [])
                ]
                avg = sum(scores) / len(scores) if scores else 0.0
                return int(n_drugs), float(avg)
            except Exception:
                if attempt == max_retries - 1:
                    return 0, 0.0
                time.sleep(2**attempt)
        return 0, 0.0

    return client
