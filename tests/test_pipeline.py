"""Golden end-to-end pipeline test (SURVEY §5 strategy #3): a synthetic
GEO Series Matrix fixture is pushed through the full Spark pipeline and
compared stage-by-stage against an independent pandas/numpy/networkx
recomputation of the reference's semantics (dropna-thresh, row-median
impute, conditional log2, ddof=0 z-score, median probe collapse, Welch t,
BH, |r| threshold graph, centralities, min-max composite)."""

import numpy as np
import pandas as pd
import pytest

from tools._geo_reference import reference_compute as _reference_compute
from drug_target_discovery_spark.plans.pipeline import (
    DrugTargetPipeline,
    PipelineParams,
    deterministic_fake_client,
)
from drug_target_discovery_spark.sources.geo import (
    parse_geo_series_matrix,
    read_probe_mapping_csv,
)
from drug_target_discovery_spark.sources.geo_fixture import (
    N_PROBES,
    N_SAMPLES,
    make_expression_frame,
    probe_gene_mapping,
    sample_conditions,
    write_fixture,
)


def _make_fixture(tmpdir: str, gz: bool = False) -> tuple[str, str, pd.DataFrame, dict]:
    matrix_path, map_path = write_fixture(tmpdir, gz=gz)
    return (
        matrix_path,
        map_path,
        make_expression_frame(),
        {"mapping": probe_gene_mapping(), "condition": sample_conditions()},
    )


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "gzip"])
def fixture_paths(request, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("geo"))
    return _make_fixture(d, gz=request.param)


class TestGeoPipeline:
    def test_parse(self, spark, fixture_paths):
        matrix_path, map_path, vals, info = fixture_paths
        expr, meta = parse_geo_series_matrix(spark, matrix_path)
        rows = {r["probe_id"]: r["values"] for r in expr.collect()}
        # every (probe, sample) cell lands exactly once: one row per probe,
        # one array element per sample, at the sample's header position
        assert len(rows) == expr.count() == N_PROBES
        assert all(len(v) == N_SAMPLES for v in rows.values())
        for probe, want in vals.iterrows():
            assert rows[probe] == [None if np.isnan(x) else x for x in want], probe
        m = {r["sample_id"]: r["condition"] for r in meta.collect()}
        assert m == info["condition"]
        # NULL cells arrive as NULLs
        n_null = sum(x is None for v in rows.values() for x in v)
        assert n_null == 3 + (N_SAMPLES - 2)

    def test_full_pipeline_matches_reference(self, spark, fixture_paths):
        matrix_path, map_path, vals, info = fixture_paths
        params = PipelineParams(n_top_genes=50, corr_threshold=0.7)
        expr, meta = parse_geo_series_matrix(spark, matrix_path)
        mapping = read_probe_mapping_csv(spark, map_path)
        pipe = DrugTargetPipeline(params)
        out = pipe.run(expr, meta, mapping, client=deterministic_fake_client)

        ref = _reference_compute(vals, info["mapping"], info["condition"], params)

        # stage 4: differential table
        got_diff = {
            r["gene"]: (r["log2FC"], r["pvalue"], r["adjusted_pvalue"])
            for r in out["differential"].collect()
        }
        assert set(got_diff) == set(ref["diff"].index)
        for gene, row in ref["diff"].iterrows():
            glfc, gp, gadj = got_diff[gene]
            assert glfc == pytest.approx(row["log2FC"], rel=1e-9), gene
            if np.isnan(row["pvalue"]):
                assert gp is None or np.isnan(gp)
            else:
                assert gp == pytest.approx(row["pvalue"], rel=1e-9)
                assert gadj == pytest.approx(row["adjusted_pvalue"], rel=1e-9)

        # stage 4b: significant set
        got_sig = {r["gene"] for r in out["significant"].collect()}
        assert got_sig == set(ref["sig"].index)

        # stages 5-6: composite target scores
        got_scores = {
            r["gene"]: r["composite_score"] for r in out["target_scores"].collect()
        }
        assert set(got_scores) == set(ref["composite"])
        for gene, v in ref["composite"].items():
            assert got_scores[gene] == pytest.approx(v, abs=1e-6), gene

        # stage 7: enrichment (fake client) — drugability formula
        val = out["validated_targets"].collect()
        assert 0 < len(val) <= params.n_top_targets
        for r in val:
            nd, aa = deterministic_fake_client(r["gene"])
            assert r["num_known_drugs"] == nd
            assert r["drugability_score"] == pytest.approx(0.6 * nd + 0.4 * aa, rel=1e-12)

    def test_preprocess_drops_sparse_probe(self, spark, fixture_paths):
        matrix_path, _, _, _ = fixture_paths
        expr, _ = parse_geo_series_matrix(spark, matrix_path)
        pipe = DrugTargetPipeline()
        probes = {
            r["probe_id"] for r in pipe.preprocess(expr).select("probe_id").distinct().collect()
        }
        assert "1040_at" not in probes  # >80% missing
        assert "1025_at" in probes  # scattered NAs, imputed


class TestEndToEndSummaryGolden:
    def test_full_run_summary_matches_golden(self, spark):
        """One full DrugTargetPipeline run on the synthetic fixture,
        rendered as the reference-shaped summary report (mirrors
        reference results/latest/summary.txt:1-29) and compared
        byte-for-byte against the committed golden (VERDICT r5 #8) —
        pins every count and every ranked score end-to-end, on top of
        the stage-by-stage oracles."""
        import os

        from drug_target_discovery_spark.plans.summary import (
            render_pipeline_summary,
        )

        golden = os.path.join(
            os.path.dirname(__file__), "golden", "pipeline_summary.txt"
        )
        with open(golden) as fh:
            expected = fh.read()
        assert render_pipeline_summary(spark) == expected
