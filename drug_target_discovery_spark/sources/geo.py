"""GEO Series Matrix source (SURVEY §2.1 S1-S3, reference
pipeline2.py:170-474) as a distributed text-format parser.

Format (one file, three zones):
  ``!Key value...`` metadata lines (tab-separated, double-quoted values),
  a ``!series_matrix_table_begin`` .. ``!series_matrix_table_end`` data zone
  whose first row is ``"ID_REF" "GSM..." ...`` and whose remaining rows are
  ``probe_id <tab> float ...``.

Distributed-safety (SURVEY §7.4 hard part #4): row interpretation depends on
the header discovered mid-file, so parsing is two-pass —
pass 1 collects ONLY the ``!``-metadata + header lines (O(#samples), tiny);
pass 2 streams the data rows through split + cast, one output row per input
line. gzip is decoded transparently by extension (``spark.read.text``),
fixing the reference's gzip-unaware second read (pipeline2.py:222).

Output is one row per probe carrying its values as a dense
``ARRAY<DOUBLE>`` in header sample order — the genes x samples matrix the
reference holds as a pandas frame, partitioned by rows. The sample axis is
bounded by the study (tens to a few thousand arrays), the probe axis is the
one that grows, so every per-probe stage downstream is row-local and the
matrix never explodes into one row per cell. ``meta`` carries each
sample's array position, which is how samples are addressed from then on.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Keyword tiers of the reference's case/control classifier
# (pipeline2.py:266-293).
CANCER_KEYWORDS = ["cancer", "tumor", "tumour", "malignant", "carcinoma", "adenocarcinoma"]
BENIGN_KEYWORDS = ["normal", "benign", "healthy", "control", "non-tumor", "nontumor"]


_QUOTE_RE = r'^["\']|["\']$'


def _strip_quotes(c):
    return F.regexp_replace(c, _QUOTE_RE, "")


def _missing(v):
    """An NA cell: empty, or one of the NA spellings."""
    return (v == "") | F.upper(v).isin("NA", "NAN", "NULL")


def _sample_key(s: str) -> str:
    """Sample-id normalisation: one surrounding quote stripped, then trim."""
    return re.sub(_QUOTE_RE, "", s).strip()


def parse_geo_series_matrix(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parse a GEO Series Matrix file -> (expression, sample_metadata).

    expression: (probe_id STRING, values ARRAY<DOUBLE>), one row per probe,
      one element per data column in header order. NULL elements for
      empty/NA cells and for the missing trailing cells of a short row, so
      every array has the header's length and a cell never shifts to
      another sample. Rows with any unparseable non-empty cell are dropped
      whole (the reference's skip-on-ValueError, pipeline2.py:464-468).
      Probe decorations are stripped: surrounding quotes, then a numeric
      ``NNN:`` prefix (pipeline2.py:450-456).
    sample_metadata: (sample_id, title, characteristics MAP<STRING,STRING>,
      position INT, condition) with condition in ('case','control', NULL)
      via the tiered keyword cascade (tissue characteristic -> title -> all
      characteristics) and position the sample's 0-based index into
      ``values`` (NULL when the data zone has no column for it)."""
    lines = spark.read.text(path).select(F.col("value").alias("line"))

    # ---- pass 1: metadata + header (tiny, collected) -------------------
    # one scan pulls both the !-metadata lines AND the ID_REF header row so
    # the file is read once, not twice, on the driver pass
    pass1 = lines.filter(
        F.col("line").startswith("!")
        | (_strip_quotes(F.split("line", "\t").getItem(0)) == "ID_REF")
    ).collect()
    meta_rows = [r for r in pass1 if r["line"].startswith("!")]
    header_like = [r for r in pass1 if not r["line"].startswith("!")][:1]
    sample_ids: list[str] = []
    titles: list[str] = []
    characteristics: list[list[str]] = []  # one list per ch-line
    for r in meta_rows:
        line = r["line"]
        if "\t" not in line:
            continue
        key, *vals = line.split("\t")
        vals = [v.strip().strip('"').strip("'") for v in vals]
        lkey = key.lower()
        if lkey == "!sample_geo_accession":
            sample_ids = vals
        elif lkey == "!sample_title":
            titles = vals
        elif lkey.startswith("!sample_characteristics_ch"):
            characteristics.append(vals)

    if not sample_ids:
        raise ValueError(f"no !Sample_geo_accession line in {path}")

    # data columns are labelled by the accession line, unless the header's
    # own id count disagrees with it (positional fallback, J3): then the
    # header's ids label the columns and samples are matched to them by id
    if header_like:
        header_cols = [c.strip().strip('"') for c in header_like[0]["line"].split("\t")][1:]
    else:
        header_cols = sample_ids
    if len(header_cols) == len(sample_ids):
        positions = list(range(len(sample_ids)))
    else:
        first: dict[str, int] = {}
        for j, c in enumerate(header_cols):
            first.setdefault(_sample_key(c), j)
        positions = [first.get(_sample_key(sid)) for sid in sample_ids]
    n_cols = len(header_cols)

    meta_pdf = []
    for i, sid in enumerate(sample_ids):
        chars = {}
        for ch_line in characteristics:
            if i < len(ch_line) and ch_line[i]:
                v = ch_line[i]
                if ":" in v:
                    label, val = v.split(":", 1)
                    chars[label.strip().lower()] = val.strip()
                else:
                    chars[v.strip().lower()] = ""
        meta_pdf.append(
            (
                _sample_key(sid),
                titles[i] if i < len(titles) else None,
                chars,
                positions[i],
            )
        )
    meta = spark.createDataFrame(
        meta_pdf,
        "sample_id STRING, title STRING, characteristics MAP<STRING,STRING>, position INT",
    )
    meta = classify_condition(meta)

    # ---- pass 2: distributed data rows ---------------------------------
    # header row (first row of the data zone) was captured in pass 1: it is
    # the single line starting with "ID_REF (quoted or not)
    data = lines.filter(
        ~F.col("line").startswith("!")
        & ~F.col("line").rlike(r'^\s*$')
        & ~F.col("line").startswith("#")
    )
    rows = data.filter(_strip_quotes(F.split("line", "\t").getItem(0)) != "ID_REF")
    parts = F.split("line", "\t")
    probe = _strip_quotes(parts.getItem(0))
    # strip "NNN:" / "NNN-" decoration prefixes (pipeline2.py:450-453)
    probe = F.regexp_replace(probe, r"^\d+[:-]", "")
    probe = _strip_quotes(probe)

    # one projection per step: each array below is read more than once,
    # and the optimizer keeps a projection of non-trivial expressions
    # rather than evaluating them once per reference
    raw = rows.select(
        probe.alias("probe_id"),
        F.transform(F.slice(parts, 2, n_cols), lambda v: _strip_quotes(F.trim(v))).alias("_raw"),
    )
    # try_cast, not cast: ANSI mode (Spark 4 default) would otherwise throw
    # on a malformed cell — and NULL-on-malformed is exactly the reference's
    # skip-row detection signal anyway
    cells = raw.select(
        "probe_id",
        "_raw",
        F.transform(
            "_raw",
            lambda v: F.when(_missing(v), F.lit(None).cast("double")).otherwise(
                v.try_cast("double")
            ),
        ).alias("_vals"),
    )
    # reference semantics: any non-missing cell failing float() drops the row
    bad = F.exists(
        F.zip_with("_raw", "_vals", lambda r, c: c.isNull() & ~_missing(r)), lambda x: x
    )
    # a short row's missing trailing cells are NA cells of the samples
    # they belong to
    padded = F.concat(
        "_vals",
        F.array_repeat(F.lit(None).cast("double"), F.lit(n_cols) - F.size("_vals")),
    )
    # the row drop is a generator (zero or one vector per line), not a
    # filter: a filter is pushed below the projections above, which would
    # then evaluate the per-cell transforms once in it and again after it
    # (and so would every later filter on ``values``)
    keep = F.when(bad, F.array()).otherwise(F.array(padded))
    return cells.select("probe_id", F.explode(keep).alias("values")), meta


def classify_condition(meta: DataFrame) -> DataFrame:
    """Tiered case/control classifier (P1, pipeline2.py:266-293):
    tier 1 the 'tissue' characteristic, tier 2 the sample title, tier 3 all
    characteristics concatenated; first tier with a keyword hit wins."""
    cancer_re = "|".join(CANCER_KEYWORDS)
    benign_re = "|".join(BENIGN_KEYWORDS)

    def tier(col):
        low = F.lower(col)
        return (
            F.when(low.rlike(cancer_re), "case")
            .when(low.rlike(benign_re), "control")
            .otherwise(F.lit(None).cast("string"))
        )

    tissue = F.element_at("characteristics", F.lit("tissue"))
    all_chars = F.concat_ws(
        " ", F.map_keys("characteristics"), F.map_values("characteristics")
    )
    return meta.withColumn(
        "condition",
        F.coalesce(
            tier(F.coalesce(tissue, F.lit(""))),
            tier(F.coalesce(F.col("title"), F.lit(""))),
            tier(all_chars),
        ),
    )


def valid_gene_symbol(col):
    """Gene-symbol validity predicate (P8, pipeline2.py:794-827) as a pure
    column expression: 1-20 chars, not probe-like (`_at`), not the UNKNOWN_
    sentinel, contains a letter, alphanumeric plus `-.` only."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return (
        c.isNotNull()
        & (F.length(c) >= 1)
        & (F.length(c) <= 20)
        & ~F.lower(c).contains("_at")
        & ~c.startswith("UNKNOWN_")
        & c.rlike("[A-Za-z]")
        & c.rlike("^[A-Za-z0-9.-]+$")
    )


def read_probe_mapping_csv(spark: SparkSession, path: str) -> DataFrame:
    """Probe->gene mapping dim (S4, pipeline2.py:98-119): CSV with header
    (PROBEID, SYMBOL), empty symbols dropped. ~54K rows — a broadcast dim;
    the R-subprocess boundary of the reference becomes a static table."""
    df = spark.read.csv(path, header=True)
    cols = {c.lower(): c for c in df.columns}
    probe_col, sym_col = cols.get("probeid", df.columns[0]), cols.get("symbol", df.columns[1])
    return (
        df.select(
            F.col(probe_col).alias("probe_id"),
            F.trim(F.col(sym_col)).alias("gene_symbol"),
        )
        .filter(F.col("gene_symbol").isNotNull() & (F.col("gene_symbol") != ""))
    )
