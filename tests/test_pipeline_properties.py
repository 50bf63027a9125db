"""Property-based differential test of the GEO chain: random small Series
Matrix files go through ``DrugTargetPipeline.run`` and through the
independent pandas reference (``tools/_geo_reference.reference_compute``),
and the differential table, the significant set and the target scores must
agree.

The generated structure covers the chain's edge classes: probes with a
present-cell count at the NA threshold (``int(0.2 * samples)``, one below,
one above), constant probes, short data rows (trailing cells left out of
the line: NA cells of their own samples), genes with one, two or three
probes (the median of an even count interpolates), unmapped probes, raw
scales on both sides of the log2 trigger, shifted and unshifted genes
(significant set empty or not) and a network budget above or below the
gene count."""

from __future__ import annotations

import math
import os
import tempfile

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from drug_target_discovery_spark.caching import release_caches
from drug_target_discovery_spark.plans.pipeline import DrugTargetPipeline, PipelineParams
from drug_target_discovery_spark.sources.geo import (
    parse_geo_series_matrix,
    read_probe_mapping_csv,
)
from tools._geo_reference import reference_compute

_NA_SPELLINGS = ["", "NA", "null", "NaN"]


@st.composite
def geo_cases(draw) -> dict:
    """A matrix layout: per probe (gene or None, present cells, short-row
    cells, constant exponent k — the probe is 2^k - 1 everywhere, 0 for
    a noisy probe); per gene a case/control fold change. Noise comes from
    ``seed``."""
    n = draw(st.integers(4, 9))
    n_case = draw(st.integers(2, n - 2))
    n_genes = draw(st.integers(1, 5))
    thresh = int(0.2 * n)
    edge = sorted({c for c in (thresh - 1, thresh, thresh + 1, n) if 0 <= c <= n})
    probes = []
    for g in [*range(n_genes), None, None]:
        for _ in range(draw(st.integers(1, 3)) if g is not None else draw(st.integers(0, 1))):
            present = draw(st.sampled_from(edge))
            short = draw(st.integers(0, n - present))
            const_k = draw(st.sampled_from([0, 0, 0, 3, 9]))
            probes.append((g, present, short, const_k))
    return {
        "n_samples": n,
        "n_case": n_case,
        "probes": probes,
        "fold": [draw(st.sampled_from([1.0, 1.0, 8.0, 0.125])) for _ in range(n_genes)],
        "big": draw(st.booleans()),
        "n_top": draw(st.integers(1, 6)),
        "seed": draw(st.integers(0, 2**16)),
    }


def write_case(case: dict, d: str):
    """Write the Series Matrix + mapping CSV of a case; returns
    (matrix_path, map_path, values frame, probe->gene, sample->condition)."""
    import pandas as pd

    rng = np.random.default_rng(case["seed"])
    n = case["n_samples"]
    samples = [f"GSM{100 + i}" for i in range(n)]
    is_case = np.zeros(n, dtype=bool)
    is_case[rng.choice(n, size=case["n_case"], replace=False)] = True
    scale = 100.0 if case["big"] else 1.0
    level = rng.uniform(2.0, 40.0, len(case["fold"])) * scale
    rows, lines, mapping = {}, [], {}
    for i, (g, present, short, const_k) in enumerate(case["probes"]):
        probe = f"{1000 + i}_at"
        if const_k:
            v = np.full(n, float(2**const_k - 1))
        else:
            base = level[g] if g is not None else rng.uniform(2.0, 40.0) * scale
            v = base * np.exp(rng.normal(0.0, 0.15, n))
            if g is not None:
                v = np.where(is_case, v * case["fold"][g], v)
            v = np.round(v, 3)
        # NA cells: the last `short` cells (left out of the line), the rest
        # at random among the cells before them
        na = np.zeros(n, dtype=bool)
        na[n - short :] = True
        head = n - short
        na[rng.choice(head, size=n - present - short, replace=False)] = True
        v[na] = np.nan
        cells = [
            _NA_SPELLINGS[rng.integers(len(_NA_SPELLINGS))] if np.isnan(x) else repr(float(x))
            for x in v[:head]
        ]
        lines.append("\t".join([f'"{probe}"', *cells]))
        rows[probe] = v
        if g is not None:
            mapping[probe] = f"GENE{g}"
    cond = {s: ("case" if c else "control") for s, c in zip(samples, is_case)}
    text = "\n".join(
        [
            '!Series_title\t"property case"',
            "!Sample_geo_accession\t" + "\t".join(f'"{s}"' for s in samples),
            "!Sample_title\t"
            + "\t".join(f'"{"tumor" if c else "normal"} {s}"' for s, c in zip(samples, is_case)),
            "!Sample_characteristics_ch1\t"
            + "\t".join(f'"tissue: {"tumor" if c else "normal"}"' for c in is_case),
            "!series_matrix_table_begin",
            '"ID_REF"\t' + "\t".join(f'"{s}"' for s in samples),
            *lines,
            "!series_matrix_table_end",
        ]
    )
    matrix_path, map_path = os.path.join(d, "series_matrix.txt"), os.path.join(d, "mapping.csv")
    with open(matrix_path, "w") as f:
        f.write(text + "\n")
    with open(map_path, "w") as f:
        f.write("PROBEID,SYMBOL\n")
        for probe in rows:
            f.write(f"{probe},{mapping.get(probe, '')}\n")
    vals = pd.DataFrame.from_dict(rows, orient="index", columns=samples)
    return matrix_path, map_path, vals, mapping, cond


def _same(got, want) -> bool:
    if want is None or (isinstance(want, float) and math.isnan(want)):
        return got is None or math.isnan(got)
    return got is not None and got == pytest.approx(want, rel=1e-9, abs=1e-12)


# NA threshold edge: 8 samples make the threshold int(1.6) = 1, so a probe
# with a single present cell (here on GENE0, its only probe) is kept
_NA_EDGE = {
    "n_samples": 8, "n_case": 4, "fold": [8.0, 1.0], "big": False, "n_top": 4, "seed": 3,
    "probes": [(0, 1, 0, 0), (1, 8, 0, 0), (1, 6, 2, 0), (None, 1, 7, 0)],
}
# nothing significant and fewer genes than n_top_genes: every gene enters
# the network, the constant GENE1 too (no r, so no edge)
_CONSTANT_IN_TOP = {
    "n_samples": 6, "n_case": 3, "fold": [1.0, 1.0, 1.0], "big": True, "n_top": 5, "seed": 11,
    "probes": [(0, 6, 0, 0), (1, 5, 1, 9), (2, 6, 0, 0), (2, 2, 4, 0)],
}
# two-probe genes (even median), short rows, significant genes beyond the
# network budget
_EVEN_SHORT = {
    "n_samples": 9, "n_case": 5, "fold": [8.0, 0.125, 8.0, 1.0], "big": False, "n_top": 2,
    "seed": 29,
    "probes": [(0, 9, 0, 0), (0, 7, 2, 0), (1, 9, 0, 0), (1, 8, 1, 0), (2, 9, 0, 0),
               (3, 1, 8, 3), (3, 9, 0, 0), (None, 9, 0, 0)],
}
# every probe dropped by the NA filter: no gene, an empty differential table
_NO_GENE = {
    "n_samples": 5, "n_case": 2, "fold": [1.0], "big": False, "n_top": 1, "seed": 0,
    "probes": [(0, 0, 0, 0)],
}


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=geo_cases())
@example(case=_NA_EDGE)
@example(case=_CONSTANT_IN_TOP)
@example(case=_EVEN_SHORT)
@example(case=_NO_GENE)
def test_pipeline_matches_reference(spark, case):
    params = PipelineParams(n_top_genes=case["n_top"])
    with tempfile.TemporaryDirectory() as d:
        matrix_path, map_path, vals, mapping, cond = write_case(case, d)
        expr, meta = parse_geo_series_matrix(spark, matrix_path)
        out = DrugTargetPipeline(params).run(
            expr, meta, read_probe_mapping_csv(spark, map_path)
        )
        try:
            diff = {r["gene"]: r for r in out["differential"].collect()}
            sig = {r["gene"] for r in out["significant"].collect()}
            scores = {r["gene"]: r["composite_score"] for r in out["target_scores"].collect()}
        finally:
            release_caches(fixtures=True)
    ref = reference_compute(vals, mapping, cond, params)

    assert set(diff) == set(ref["diff"].index)
    for gene, row in ref["diff"].iterrows():
        for col in ("log2FC", "pvalue", "adjusted_pvalue"):
            assert _same(diff[gene][col], float(row[col])), (gene, col)
    assert sig == set(ref["sig"].index)

    k = params.n_top_genes
    gene_var = ref["gene_df"].var(axis=1, ddof=1)
    if len(ref["sig"]) or len(gene_var) <= k:
        assert set(scores) == set(ref["composite"])
        for gene, v in ref["composite"].items():
            assert scores[gene] == pytest.approx(v, abs=1e-6), gene
    else:
        # top-K by variance: z-scored genes tie up to rounding, so only the
        # chosen genes' variances are pinned, not which of the tied ones
        kth = sorted(gene_var, reverse=True)[k - 1]
        assert len(scores) == k
        assert all(gene_var[g] >= kth - 1e-9 for g in scores)


def test_constant_probe_standardises_to_exact_zero(spark):
    """0.1 three times has a float mean that is not 0.1, so a stddev test
    would see a tiny non-zero spread; max == min gives exact zeros."""
    assert np.mean([0.1, 0.1, 0.1]) != 0.1
    df = spark.createDataFrame(
        [("p", [0.1, 0.1, None, 0.1]), ("q", [1.0, 2.0, 3.0, 4.0])],
        "probe_id STRING, values ARRAY<DOUBLE>",
    )
    got = {r["probe_id"]: r["values"] for r in DrugTargetPipeline().preprocess(df).collect()}
    assert got["p"] == [0.0, 0.0, 0.0, 0.0]
    q = np.array([1.0, 2.0, 3.0, 4.0])
    assert got["q"] == pytest.approx(list((q - q.mean()) / q.std()), rel=1e-12)
