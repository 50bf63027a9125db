"""Independent pandas/numpy/networkx recomputation of the reference
pipeline's semantics (pipeline2.py stages 2-7) on the synthetic GEO fixture.

Shared by the golden end-to-end test (tests/test_pipeline.py) and the
fixture-oracle generator (tools/gen_geo_oracles.py): ONE reference
implementation, two consumers. Deliberately eager pandas — the point is
independence from the Spark plans, not scale.
"""

from __future__ import annotations

import math

import networkx as nx
import numpy as np
import pandas as pd

from drug_target_discovery_spark.functions.stats import t_sf_numpy
from drug_target_discovery_spark.plans.pipeline import PipelineParams


def reference_compute(
    vals: pd.DataFrame, mapping: dict, cond: dict, params: PipelineParams
) -> dict:
    """Reference semantics end to end: dropna-thresh, row-median impute,
    conditional log2, ddof=0 z-score, median probe collapse, Welch t, BH,
    |r| threshold graph, centralities, min-max composite."""
    df = vals.copy()
    n = df.shape[1]
    df = df.dropna(thresh=int(params.na_threshold * n))  # pipeline2.py:484-486
    df = df.apply(lambda row: row.fillna(row.median()), axis=1)  # :487
    if df.max().max() > params.log2_trigger:
        df = np.log2(df + 1)  # :488-491
    mu, sd = df.mean(axis=1), df.std(axis=1, ddof=0)
    # a constant row standardises to 0 (StandardScaler's zero-variance
    # rule); it is told by max == min, since its float mean may miss the
    # value by an ulp and leave sd a tiny non-zero
    flat = df.max(axis=1) == df.min(axis=1)
    df = df.sub(mu, axis=0).div(sd.mask(flat), axis=0).fillna(0.0)  # :492-494

    df = df[df.index.isin(mapping)]
    df2 = df.copy()
    df2["gene"] = [mapping[p] for p in df2.index]
    gene_df = df2.groupby("gene").median()  # :523-528

    case_cols = [s for s in gene_df.columns if cond[s] == "case"]
    ctrl_cols = [s for s in gene_df.columns if cond[s] == "control"]
    rows = []
    for g, r in gene_df.iterrows():
        c, k = r[case_cols].to_numpy(), r[ctrl_cols].to_numpy()
        lfc = c.mean() - k.mean()
        v1, v2 = c.var(ddof=1), k.var(ddof=1)
        n1, n2 = len(c), len(k)
        se2 = v1 / n1 + v2 / n2
        if se2 <= 0 or n1 < 2 or n2 < 2:
            t = p = np.nan
        else:
            t = (c.mean() - k.mean()) / math.sqrt(se2)
            dfree = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
            p = float(t_sf_numpy(np.array([t]), np.array([dfree]))[0])
        rows.append((g, lfc, p))
    diff = pd.DataFrame(rows, columns=["gene", "log2FC", "pvalue"]).set_index("gene")

    diff["adjusted_pvalue"] = bh_adjust(diff["pvalue"].to_numpy(dtype=np.float64))

    sig = diff[
        (diff["adjusted_pvalue"] < params.p_threshold)
        & (diff["log2FC"].abs() > params.fc_threshold)
        & diff["log2FC"].notna()
    ]
    if len(sig):
        top = sorted(sig.index)[: params.n_top_genes]
    else:  # nothing significant: top-K by variance (pipeline2.py:683-686)
        var = gene_df.var(axis=1, ddof=1).dropna()
        top = sorted(var.index, key=lambda g: (-var[g], g))[: params.n_top_genes]
    corr = gene_df.loc[top].T.corr()
    g = nx.Graph()
    g.add_nodes_from(top)
    for i, a in enumerate(top):
        for b in top[i + 1 :]:
            r = corr.loc[a, b]
            if pd.notna(r) and abs(r) > params.corr_threshold:
                g.add_edge(a, b)
    dc = nx.degree_centrality(g)
    bc = nx.betweenness_centrality(g, normalized=True)
    ec = nx.eigenvector_centrality(g, max_iter=1000, tol=1e-6) if g.number_of_edges() else {
        n: 0.0 for n in g.nodes()
    }

    def scale(d):
        v = np.array([d[k] for k in top])
        lo, hi = (v.min(), v.max()) if len(v) else (0.0, 0.0)
        return {k: (0.0 if hi == lo else (d[k] - lo) / (hi - lo)) for k in top}

    dcs, bcs, ecs = scale(dc), scale(bc), scale(ec)
    composite = {k: (dcs[k] + bcs[k] + ecs[k]) / 3 for k in top}
    return {
        "normalized": df,
        "gene_df": gene_df,
        "diff": diff,
        "sig": sig,
        "centralities": {"degree": dc, "betweenness": bc, "eigenvector": ec},
        "composite": composite,
    }


def bh_adjust(pv: np.ndarray) -> np.ndarray:
    """Benjamini-Hochberg adjustment, NaN passthrough (statsmodels-style)."""
    mask = ~np.isnan(pv)
    m = mask.sum()
    adj = np.full_like(pv, np.nan, dtype=np.float64)
    order = np.argsort(pv[mask], kind="mergesort")
    ranked = pv[mask][order] * m / np.arange(1, m + 1)
    acc = np.minimum.accumulate(ranked[::-1])[::-1]
    idx = np.where(mask)[0][order]
    adj[idx] = np.minimum(acc, 1.0)
    return adj


def valid_gene_symbol_py(g: str) -> bool:
    """Python mirror of sources.geo.valid_gene_symbol (P8)."""
    import re

    return (
        g is not None
        and 1 <= len(g) <= 20
        and "_at" not in g.lower()
        and not g.startswith("UNKNOWN_")
        and re.search("[A-Za-z]", g) is not None
        and re.fullmatch("[A-Za-z0-9.-]+", g) is not None
    )


def reference_validated_targets(composite: dict, params: PipelineParams) -> pd.DataFrame:
    """Stage 7 on the reference side: valid-symbol filter, top-K by
    composite (gene-asc tie-break), deterministic fake enrichment,
    drugability ranking."""
    from drug_target_discovery_spark.plans.pipeline import deterministic_fake_client

    rows = [
        (g, s) for g, s in composite.items() if valid_gene_symbol_py(g)
    ]
    rows.sort(key=lambda t: (-t[1], t[0]))
    rows = rows[: params.n_top_targets]
    out = []
    for g, s in rows:
        nd, aa = deterministic_fake_client(g)
        out.append((g, s, nd, aa, params.drug_weight * nd + params.assoc_weight * aa))
    out.sort(key=lambda t: (-t[4], t[0]))
    return pd.DataFrame(
        out,
        columns=[
            "gene",
            "composite_score",
            "num_known_drugs",
            "avg_association_score",
            "drugability_score",
        ],
    )
