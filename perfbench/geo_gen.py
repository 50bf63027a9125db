"""Seeded generator of GEO inputs: a Series Matrix text file plus the
probe -> gene mapping CSV, at any probes x samples shape.

The differential block is planted at GENE level: every probe of a planted
gene carries the same case-vs-control shift, so the shift survives the
pipeline's per-gene median collapse of multi-probe genes. Planted genes are
also grouped into modules that share a latent per-sample factor; genes of
one module with same-sign shifts correlate above |r| = 0.7, genes of
different modules mostly do not, which gives the co-expression network a
clustered shape. Values are integer thousandths, written in the shortest
decimal that reads back as the same double, and returned exactly as the
parser will read them.
"""

from __future__ import annotations

import os
import string
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv


NA_FRAC = 0.01              # share of NA cells
SHIFT_LO, SHIFT_HI = 1.2, 2.0  # |shift| of a planted gene, log2 units
MODULE_SD = 0.6             # loading of a module's latent factor
NOISE_SD = 0.4              # per-probe, per-sample noise, log2 units


@dataclass(frozen=True)
class GeoShape:
    n_probes: int
    n_samples: int
    n_case: int
    n_genes: int            # distinct symbols in the mapping
    mapped_frac: float      # share of probes that have a symbol
    n_planted: int          # genes given a case-vs-control shift
    n_modules: int          # latent co-expression modules among planted genes


@dataclass
class GeoInputs:
    matrix_path: str
    mapping_path: str
    values: pd.DataFrame          # probes x samples, NaN = NA cell, as parsed
    mapping: dict[str, str]       # probe -> symbol
    condition: dict[str, str]     # sample -> 'case' | 'control'
    gen_s: float
    matrix_bytes: int
    mapping_bytes: int


def _symbols(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct gene-like symbols (letters then a digit, e.g. 'KQRT3')."""
    letters = np.array(list(string.ascii_uppercase))
    out: set[str] = set()
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(3, 6, size=k)
        for ln in lens:
            out.add("".join(rng.choice(letters, size=ln)) + str(rng.integers(1, 10)))
    return sorted(out)


def generate(out_dir: str, shape: GeoShape, seed: int) -> GeoInputs:
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    P, S = shape.n_probes, shape.n_samples

    probes = [
        f"{100000 + i}{('_at', '_s_at', '_x_at')[i % 3]}" for i in range(P)
    ]
    samples = [f"GSM{1133000 + i}" for i in range(S)]
    is_case = np.zeros(S, dtype=bool)
    is_case[rng.choice(S, size=shape.n_case, replace=False)] = True

    # probe -> gene: every gene gets one probe, the rest of the mapped
    # probes land on random genes (multi-probe genes)
    symbols = _symbols(rng, shape.n_genes)
    n_mapped = int(round(shape.mapped_frac * P))
    mapped_idx = rng.permutation(P)[:n_mapped]
    gene_of = np.concatenate(
        [rng.permutation(shape.n_genes), rng.integers(0, shape.n_genes, n_mapped - shape.n_genes)]
    )
    probe_gene = np.full(P, -1, dtype=np.int64)
    probe_gene[mapped_idx] = gene_of

    # gene-level effects
    planted = rng.choice(shape.n_genes, size=shape.n_planted, replace=False)
    shift = np.zeros(shape.n_genes)
    shift[planted] = rng.uniform(SHIFT_LO, SHIFT_HI, shape.n_planted) * rng.choice(
        [-1.0, 1.0], shape.n_planted
    )
    module = np.full(shape.n_genes, -1, dtype=np.int64)
    module[planted] = rng.integers(0, shape.n_modules, shape.n_planted)
    factors = rng.standard_normal((shape.n_modules, S))
    gene_level = rng.uniform(7.0, 12.0, shape.n_genes)

    # probe-level log2 intensities; unmapped probes are background noise
    g = np.where(probe_gene >= 0, probe_gene, 0)
    mapped = probe_gene >= 0
    base = np.where(mapped, gene_level[g], rng.uniform(7.0, 12.0, P)) + rng.normal(0, 0.3, P)
    log2v = base[:, None] + rng.normal(0.0, NOISE_SD, (P, S))
    sh = np.where(mapped, shift[g], 0.0)
    log2v += sh[:, None] * is_case[None, :]
    mod = np.where(mapped, module[g], -1)
    has_mod = mod >= 0
    log2v[has_mod] += MODULE_SD * factors[mod[has_mod]]

    # raw intensities in integer thousandths (exactly representable after
    # the parser's decimal -> double conversion)
    milli = np.rint(np.exp2(log2v) * 1000.0).astype(np.int64)
    values = milli / 1000.0
    na = rng.random((P, S)) < NA_FRAC
    values[na] = np.nan

    vals = pd.DataFrame(values, index=probes, columns=samples)
    titles = [
        f"prostate tumor, patient {i}" if c else f"normal prostate, patient {i}"
        for i, c in enumerate(is_case)
    ]
    header = [
        '!Series_title\t"seeded benchmark matrix"',
        "!Sample_geo_accession\t" + "\t".join(f'"{s}"' for s in samples),
        "!Sample_title\t" + "\t".join(f'"{t}"' for t in titles),
        "!Sample_characteristics_ch1\t"
        + "\t".join(f'"tissue: {"tumor" if c else "normal"}"' for c in is_case),
        "!series_matrix_table_begin",
        '"ID_REF"\t' + "\t".join(f'"{s}"' for s in samples),
    ]
    matrix_path = os.path.join(out_dir, "series_matrix.txt")
    table = pa.table(
        [pa.array(probes)]
        + [pa.array(values[:, j], mask=na[:, j]) for j in range(S)],
        names=["ID_REF"] + samples,
    )
    with open(matrix_path, "wb") as f:
        f.write(("\n".join(header) + "\n").encode())
        # shortest round-trip decimals: each value reads back bit-exact
        pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False, delimiter="\t"))
        f.write(b"!series_matrix_table_end\n")

    mapping = {probes[i]: symbols[probe_gene[i]] for i in mapped_idx}
    mapping_path = os.path.join(out_dir, "mapping.csv")
    with open(mapping_path, "w") as f:
        f.write("PROBEID,SYMBOL\n")
        for p in probes:
            f.write(f"{p},{mapping.get(p, '')}\n")

    condition = {s: ("case" if c else "control") for s, c in zip(samples, is_case)}
    return GeoInputs(
        matrix_path=matrix_path,
        mapping_path=mapping_path,
        values=vals,
        mapping=mapping,
        condition=condition,
        gen_s=time.perf_counter() - t0,
        matrix_bytes=os.path.getsize(matrix_path),
        mapping_bytes=os.path.getsize(mapping_path),
    )
