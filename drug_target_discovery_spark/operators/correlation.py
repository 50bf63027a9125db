"""Pairwise Pearson correlation (SURVEY §2.5 A7 + §2.4 J4 + §2.3 P7 — the
reference's ``expr_data.T.corr()`` at pipeline2.py:702-703).

Two input shapes, one kernel each:

- ``corr_edges``: dense vectors, one row per key carrying an
  ``ARRAY<DOUBLE>`` over the same samples (the GEO chain's genes after
  imputation). The block is bounded by the caller's top-K cut — K keys x S
  samples — so it is collected once, each vector is standardised once, and
  r for every pair is one GEMM (r = Z·Zᵀ with unit-norm centred rows). Only
  the thresholded edge list goes back to Spark.
- ``pairwise_pearson``: a long table (key, sample, value) with gaps, where
  each pair correlates over its own common samples. The long table
  self-joins on the sample key (co-located shuffle on one key), the upper
  triangle (``g1 < g2``) halves the pair space, and the co-moments
  aggregate with map-side partials; no dense matrix is formed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def pairwise_pearson(
    long_df: DataFrame,
    key: str,
    sample: str,
    value: str,
    min_periods: int = 3,
) -> DataFrame:
    """All-pairs Pearson r between keys over their common samples.

    Input: long table (key, sample, value), one row per (key, sample).
    Output: (g1, g2, r, n_samples) with g1 < g2 and n_samples >= min_periods.

    Pairs sharing fewer than ``min_periods`` samples are dropped (pandas
    corr(min_periods) semantics); a series constant over the pair's common
    samples yields NULL r (pandas NaN — NULL for oracle parity, SURVEY
    §7.4). r = cov_pop / (sd_pop1 * sd_pop2), guarded before the division:
    ``F.corr`` divides by the zero co-moment under ANSI mode and fails.
    """
    a = long_df.select(
        F.col(key).alias("g1"), F.col(sample).alias("_s"), F.col(value).alias("_v1")
    )
    b = long_df.select(
        F.col(key).alias("g2"), F.col(sample).alias("_s"), F.col(value).alias("_v2")
    )
    pairs = a.join(b, "_s").filter(F.col("g1") < F.col("g2"))
    out = pairs.groupBy("g1", "g2").agg(
        F.covar_pop("_v1", "_v2").alias("_cov"),
        (F.stddev_pop("_v1") * F.stddev_pop("_v2")).alias("_sd"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return out.select(
        "g1",
        "g2",
        F.nanvl(
            F.when(F.col("_sd") > 0, F.col("_cov") / F.col("_sd")),
            F.lit(None).cast("double"),
        ).alias("r"),
        "n_samples",
    ).filter(F.col("n_samples") >= min_periods)


def corr_edges(
    vec_df: DataFrame,
    key: str,
    values: str,
    threshold: float = 0.7,
    min_periods: int = 3,
) -> DataFrame:
    """Thresholded co-expression edge list (P7+G1, pipeline2.py:708-717)
    over dense vectors: (g1, g2, weight, r, n_samples) with g1 < g2,
    |r| > threshold and weight = |r|.

    ``vec_df`` holds one row per key with a NULL-free ``values`` array, all
    of one length S; the caller bounds its row count (the top-K cut). A
    constant vector has no r (pandas NaN) and so no edge. With S below
    ``min_periods`` there are no pairs at all."""
    rows = sorted(vec_df.select(key, values).collect(), key=lambda r: r[0])
    keys = [r[0] for r in rows]
    x = np.array([r[1] for r in rows], dtype=np.float64)
    n = x.shape[1] if x.ndim == 2 else 0
    i = j = np.empty(0, np.int64)
    rv = np.empty(0)
    if len(keys) >= 2 and n >= min_periods:
        xc = x - x.mean(axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            z = xc / np.sqrt((xc * xc).sum(axis=1, keepdims=True))
        r = z @ z.T
        i, j = np.triu_indices(len(keys), 1)
        rv = r[i, j]
        hit = np.abs(rv) > threshold  # NaN (constant vector) never passes
        i, j, rv = i[hit], j[hit], rv[hit]
    edges = pd.DataFrame(
        {
            "g1": [keys[k] for k in i],
            "g2": [keys[k] for k in j],
            "weight": np.abs(rv),
            "r": rv,
            "n_samples": np.full(len(rv), n, dtype=np.int64),
        }
    )
    schema = StructType(
        [
            StructField("g1", vec_df.schema[key].dataType),
            StructField("g2", vec_df.schema[key].dataType),
            StructField("weight", DoubleType()),
            StructField("r", DoubleType()),
            StructField("n_samples", LongType()),
        ]
    )
    return vec_df.sparkSession.createDataFrame(edges, schema)
