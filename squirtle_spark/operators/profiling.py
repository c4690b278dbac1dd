"""Data-quality profiling — the audit pass a pipeline runs before and
after every ingest (the Deequ/great-expectations class of operators),
as dialect-shared SQL with full value oracles:

- **dq_profile** — per-column profile of the events stream: row count,
  null count, exact distinct count, numeric min/max (timestamps as epoch
  seconds; strings report NULL bounds — double rendering is
  engine-specific, so bounds stay numeric). ONE aggregation pass
  computes every stat (a single wide global agg row), then a 6-row
  column-name series unpivots it. Scale note: the scan is single-pass,
  but N exact COUNT(DISTINCT)s compile to Spark's Expand — N row copies
  into the shuffle. Exact distincts keep the value oracle; a 100 TB
  profile swaps them for approx_count_distinct (no Expand, one pass,
  ±2% — the trade every production profiler makes).
- **value_histogram** — fixed-bin histogram of `value` per event_type
  (25 × 20-unit bins, top bin clamped): the distribution drift check.
  Shared FLOOR arithmetic rather than width_bucket (absent in DuckDB);
  one grouped count, shuffles only (type, bucket) pairs.
"""

from __future__ import annotations

import textwrap

from .. import dialect as dl
from ..registry import register_df, register_sql

#: (column, null-counting expr is COUNT(col), numeric min/max expr or None)
_COLS: list[tuple[str, str | None]] = [
    ("event_id", "event_id"),
    ("ts", None),  # numeric bounds via epoch seconds, see below
    ("user_id", "user_id"),
    ("event_type", ""),  # non-numeric: NULL bounds
    ("value", "value"),
    ("props", ""),
]

HIST_BIN_W = 20
HIST_N_BINS = 25  # covers the fixtures' 0..500 value range; top bin clamps


def _dq_profile(d: str) -> str:
    stats = []
    for col, num in _COLS:
        stats.append(f"COUNT({col}) AS nn_{col}")
        stats.append(f"COUNT(DISTINCT {col}) AS nd_{col}")
        if num == "":
            lo, hi = "NULL", "NULL"
        elif num is None:
            lo = f"MIN({dl.epoch_s(col, d)})"
            hi = f"MAX({dl.epoch_s(col, d)})"
        else:
            lo, hi = f"MIN({num})", f"MAX({num})"
        stats.append(f"CAST({lo} AS DOUBLE) AS lo_{col}")
        stats.append(f"CAST({hi} AS DOUBLE) AS hi_{col}")

    def pick(prefix: str, typ: str) -> str:
        cases = " ".join(
            f"WHEN '{c}' THEN {prefix}_{c}" for c, _ in _COLS
        )
        return f"CAST(CASE col_name {cases} END AS {typ})"

    names = ", ".join(f"('{c}')" for c, _ in _COLS)
    return textwrap.dedent(f"""
        WITH agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {", ".join(stats)}
            FROM events
        ),
        cols(col_name) AS (VALUES {names})
        SELECT col_name,
               n_rows,
               n_rows - {pick("nn", "BIGINT")} AS n_nulls,
               {pick("nd", "BIGINT")} AS n_distinct,
               {pick("lo", "DOUBLE")} AS min_num,
               {pick("hi", "DOUBLE")} AS max_num
        FROM agg, cols
        """)


register_sql(
    "dq_profile",
    _dq_profile,
    doc="Per-column data-quality profile (nulls/distincts/numeric bounds) "
    "from ONE aggregation pass + a column-name unpivot.",
    bench=True,
)


def _dq_profile_approx(spark, sf_dir):
    """The documented 100 TB form of dq_profile: every exact
    COUNT(DISTINCT) swapped for approx_count_distinct (HyperLogLog++,
    default rsd 5%). No Expand — the scan stays a true single pass with
    one global agg row, so profile cost is one read of the table at any
    scale. Spark-only (DuckDB's approx_count_distinct is a different HLL
    implementation, so there is no cross-engine value oracle); the
    correctness contract is the error-bound pytest against the exact
    dq_profile entry (tests/test_sketches.py), the same evidence pattern
    as the HLL/CMS sketches.
    """
    stats = []
    for col, num in _COLS:
        stats.append(f"COUNT({col}) AS nn_{col}")
        stats.append(f"approx_count_distinct({col}) AS nd_{col}")
        if num == "":
            lo, hi = "NULL", "NULL"
        elif num is None:
            lo = f"MIN({dl.epoch_s(col, dl.SPARK)})"
            hi = f"MAX({dl.epoch_s(col, dl.SPARK)})"
        else:
            lo, hi = f"MIN({num})", f"MAX({num})"
        stats.append(f"CAST({lo} AS DOUBLE) AS lo_{col}")
        stats.append(f"CAST({hi} AS DOUBLE) AS hi_{col}")

    def pick(prefix: str, typ: str) -> str:
        cases = " ".join(f"WHEN '{c}' THEN {prefix}_{c}" for c, _ in _COLS)
        return f"CAST(CASE col_name {cases} END AS {typ})"

    names = ", ".join(f"('{c}')" for c, _ in _COLS)
    return spark.sql(
        textwrap.dedent(f"""
        WITH agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {", ".join(stats)}
            FROM events
        ),
        cols(col_name) AS (VALUES {names})
        SELECT col_name,
               n_rows,
               n_rows - {pick("nn", "BIGINT")} AS n_nulls,
               {pick("nd", "BIGINT")} AS n_distinct,
               {pick("lo", "DOUBLE")} AS min_num,
               {pick("hi", "DOUBLE")} AS max_num
        FROM agg, cols
        """)
    )


register_df(
    "dq_profile_approx",
    _dq_profile_approx,
    doc="dq_profile's 100 TB form: approx_count_distinct (HLL++, no Expand), "
    "single-pass scan; bound-tested against the exact profile.",
)


def _value_histogram(d: str) -> str:
    bucket = f"LEAST({dl.to_int(f'value / {HIST_BIN_W}.0', d)}, {HIST_N_BINS - 1})"
    return textwrap.dedent(f"""
        SELECT event_type,
               bucket,
               CAST(bucket * {HIST_BIN_W} AS DOUBLE) AS bin_lo,
               CAST((bucket + 1) * {HIST_BIN_W} AS DOUBLE) AS bin_hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT event_type, {bucket} AS bucket
            FROM events
            WHERE value IS NOT NULL
        ) b
        GROUP BY event_type, bucket
        """)


register_sql(
    "value_histogram",
    _value_histogram,
    doc=f"Fixed-bin value histogram per event_type ({HIST_N_BINS} x "
    f"{HIST_BIN_W}-unit bins, top bin clamped) — distribution drift check.",
)


def _pctl(x: str, p: str, d: str) -> str:
    """Exact interpolated percentile (bitwise-identical across engines,
    proven by text_length_quantiles)."""
    fn = "percentile" if d == dl.SPARK else "quantile_cont"
    return f"{fn}({x}, {p})"


def _outlier_mad(d: str) -> str:
    """Robust outlier detection per event_type: flag values more than
    5 MADs from the median (median absolute deviation — immune to the
    outliers it hunts, unlike stddev). Two grouped percentile passes on
    the same key plus a broadcast join of the 5-row stats table back onto
    the stream; exact medians here (bitwise cross-engine), approx_percentile
    at 100 TB — same plan, t-digest sketch instead of a sort.
    """
    med = _pctl("value", "0.5", d)
    mad = _pctl("ABS(value - med)", "0.5", d)
    return f"""
WITH med AS (
    SELECT event_type, {med} AS med
    FROM events GROUP BY event_type
),
stats AS (
    SELECT e.event_type, MIN(m.med) AS med, {mad} AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       e.value, s.med, s.mad
FROM events e
JOIN stats s ON e.event_type = s.event_type
WHERE ABS(e.value - s.med) > 5 * s.mad
"""


register_sql(
    "outlier_mad",
    _outlier_mad,
    doc="Per-type robust outliers: |value - median| > 5 MAD (exact medians; "
    "approx_percentile swap at scale).",
)


def _embedding_profile(d: str) -> str:
    """Data-quality profile for the VECTOR modality (dq_profile covers the
    scalar columns): per-label vector counts, dimensionality consistency
    (a ragged dim range is how a bad embedding batch announces itself),
    and the L2-norm distribution (mean/min/max + zero-vector count —
    zero vectors poison cosine similarity downstream). One grouped pass;
    the norm is the same sequential-fold-vs-list_dot_product pair the ANN
    oracles pin, made order-free by the 4dp round before the DECIMAL sum.
    """
    if d == dl.SPARK:
        v = "CAST(embedding AS ARRAY<DOUBLE>)"
        dim = "array_size(v)"
        dot = "aggregate(v, 0D, (acc, x) -> acc + x * x)"
    else:
        v = "CAST(embedding AS DOUBLE[])"
        dim = "len(v)"
        dot = "list_dot_product(v, v)"
    div2c = "DIV (2 * COUNT(*))" if d == dl.SPARK else "// (2 * COUNT(*))"
    return f"""
WITH e AS (
    SELECT label, {v} AS v FROM embeddings
),
n AS (
    SELECT label,
           CAST({dim} AS BIGINT) AS dim,
           ROUND(SQRT({dot}), 4) AS norm
    FROM e
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(dim) AS BIGINT) AS dim_min,
       CAST(MAX(dim) AS BIGINT) AS dim_max,
       -- integer-space mean: norms are exact 4-dp values, so sum*10^4 is
       -- an exact BIGINT and (2s + c) DIV (2c) is round-half-away of s/c
       -- — no double-rounding site for the engines to disagree on
       CAST((2 * CAST(SUM(CAST(ROUND(norm * 10000) AS BIGINT)) AS BIGINT)
              + COUNT(*)) {div2c} AS DOUBLE) / 10000 AS norm_mean,
       MIN(norm) AS norm_min,
       MAX(norm) AS norm_max,
       CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs
FROM n
GROUP BY label
"""


register_sql(
    "embedding_profile",
    _embedding_profile,
    doc="DQ profile for the vector modality: per-label dim consistency + "
    "L2-norm distribution + zero-vector count, one grouped pass.",
)


#: (metric, expression-over-s) pairs of the corpus data card — one list
#: drives BOTH the Spark stack() form and the DuckDB UNION oracle, so the
#: two can never drift.
_CORPUS_METRICS = [
    ("n_docs", "CAST(n_docs AS DOUBLE)"),
    ("n_sources", "CAST(n_sources AS DOUBLE)"),
    ("n_langs", "CAST(n_langs AS DOUBLE)"),
    ("total_tokens", "CAST(total_tokens AS DOUBLE)"),
    ("mean_doc_tokens", "ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 4)"),
    ("exact_dup_rate", "ROUND(CAST(n_docs - n_uniq AS DOUBLE) / n_docs, 4)"),
    ("min_doc_tokens", "CAST(min_tok AS DOUBLE)"),
    ("max_doc_tokens", "CAST(max_tok AS DOUBLE)"),
]


def _corpus_report_ctes(d: str) -> str:
    """Shared base/s CTEs: ONE corpus scan reduced to one scalar row."""
    toks = dl.split_tokens("lower(trim(text))", d)
    return f"""
WITH base AS (
    SELECT doc_id, source, lang,
           md5(lower(trim(text))) AS fp,
           CAST({dl.array_len(toks, d)} AS BIGINT) AS n_tok
    FROM documents
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_uniq,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok
    FROM base
)"""


def _corpus_report_spark(spark, sf_dir):
    """The corpus "data card" numbers as ONE composed plan: corpus size,
    source/language breadth, token volume, exact-duplicate rate, and
    length spread — the summary block every dataset release prints.
    Emits (metric, value) rows so downstream diffing between snapshots is
    a trivial join on metric.

    Spark side unpivots the single scalar row with stack() — the r9-era
    8-branch UNION ALL re-inlined the `s` CTE once per branch (8 corpus
    scans; the vacuous-gate class the r10 scan-counter fix surfaced).
    The DuckDB oracle keeps the UNION text: DuckDB materializes the
    multi-referenced CTE, so both engines run one scan.
    """
    stack_args = ", ".join(f"'{m}', {e}" for m, e in _CORPUS_METRICS)
    return spark.sql(
        f"""{_corpus_report_ctes(dl.SPARK)}
SELECT metric, value
FROM s LATERAL VIEW stack({len(_CORPUS_METRICS)}, {stack_args}) t AS metric, value
"""
    )


def _corpus_report_oracle() -> str:
    branches = [
        f"SELECT '{m}' AS metric, {e} AS value FROM s"
        for m, e in _CORPUS_METRICS
    ]
    return _corpus_report_ctes(dl.DUCK) + "\n" + "\nUNION ALL ".join(branches)


register_df(
    "corpus_report",
    _corpus_report_spark,
    oracle_body=_corpus_report_oracle(),
    doc="Corpus data-card summary as (metric, value) rows — size, breadth, "
    "token volume, exact-dup rate, length spread in one composed plan "
    "(one scan: stack() unpivot on Spark, materialized CTE in DuckDB).",
)


SKEW_TOP_N = 5


def _join_skew_report(d: str) -> str:
    """Key-skew diagnosis for a prospective join key (user_id here) — the
    check a 100 TB pipeline runs BEFORE shuffling on a key: per-key row
    counts reduced to the skew shape (max/mean ratio — how much the
    hottest task outweighs the average — p99-ish top share, and the top
    offending keys by name). AQE's skew-join split handles moderate skew
    at runtime; this report is how a pipeline decides up front between
    plain shuffle, salting, or broadcasting the other side.
    One grouped count + one scalar reduction; the top keys ride
    TakeOrderedAndProject semantics inside a bounded subquery. Ratios
    round at 6 decimals: at 4, a count ratio can land exactly on a
    rounding half, where Spark's BigDecimal-of-double and DuckDB's
    float rounding disagree (observed at sf0.1: 0.0047 vs 0.0046).
    """
    return f"""
WITH counts AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_rows
    FROM counts
),
top AS (
    SELECT CAST(SUM(n) AS BIGINT) AS top_rows
    FROM (SELECT n FROM counts ORDER BY n DESC, user_id LIMIT {SKEW_TOP_N}) t
)
SELECT s.n_keys,
       s.n_rows,
       s.max_key_rows,
       ROUND(CAST(s.max_key_rows AS DOUBLE)
             / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 6) AS max_over_mean,
       ROUND(CAST(top.top_rows AS DOUBLE) / s.n_rows, 6) AS top{SKEW_TOP_N}_share
FROM s CROSS JOIN top
"""


register_sql(
    "join_skew_report",
    _join_skew_report,
    doc="Join-key skew diagnosis: max/mean ratio + top-key share for a "
    "prospective shuffle key — the decide-before-you-shuffle check.",
)


def _benford_digits(d: str) -> str:
    """First-significant-digit distribution of ``events.value`` vs
    Benford's law — the digit-level drift/fabrication check (natural
    multi-scale measurements follow P(d)=log10(1+1/d); synthetic or
    tampered columns usually don't, and the per-digit chi-square
    contributions say WHERE they deviate).

    Cross-engine determinism: the first digit is taken from the STRING of
    an exact BIGINT (floor(|value|*1e6)) — never from log10 of a double,
    whose edge behavior at exact powers of ten differs between engines.
    One scan + one 9-group aggregate; the expected-frequency and
    chi-square expressions are fixed-shape doubles over integer counts.
    """
    # ``d`` unused: the body is identical in Spark SQL and DuckDB.
    return """
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(FLOOR(ABS(value) * 1000000) AS BIGINT) AS STRING), 1, 1) AS INT) AS digit
    FROM events
    WHERE value IS NOT NULL AND ABS(value) * 1000000 >= 1
),
obs AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
    FROM digits GROUP BY digit
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM obs
)
SELECT o.digit,
       o.n,
       ROUND(CAST(o.n AS DOUBLE) / t.n_total, 6) AS observed_freq,
       ROUND(LOG10(1.0 + 1.0 / o.digit), 6) AS benford_freq,
       ROUND(POWER(CAST(o.n AS DOUBLE) - t.n_total * LOG10(1.0 + 1.0 / o.digit), 2)
             / (t.n_total * LOG10(1.0 + 1.0 / o.digit)), 6) AS chi2_term
FROM obs o CROSS JOIN tot t
ORDER BY o.digit
"""


register_sql(
    "benford_digits",
    _benford_digits,
    doc="Benford first-digit audit: observed vs log10(1+1/d) expected "
    "frequencies + per-digit chi-square contributions; exact-integer "
    "digit extraction so both engines bin identically.",
)


#: PSI drift: compare value distributions before/after this split point.
PSI_SPLIT = "2024-01-16 00:00:00"


def _psi_drift(d: str) -> str:
    """Population Stability Index of ``value`` per event_type between the
    first and second half of the stream — THE standard ML-ops drift gate
    (PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 retrain). Reuses
    value_histogram's fixed bins; both halves' bin frequencies are
    Laplace-smoothed (+0.5 per bin over the FULL fixed bin set, so empty
    bins never produce ln(0) and both engines smooth identically), and the
    per-bin terms (p-q)·ln(p/q) — fixed-shape doubles over exact integer
    counts — reduce through DECIMAL per type.

    One scan + one (type, bin, half) aggregate + one vocab-sized reduce;
    the bin grid fan-out is a constant {n_bins}-row relation per type.
    """
    split = dl.ts_lit(PSI_SPLIT, d)
    bucket = f"LEAST({HIST_N_BINS - 1}, CAST(FLOOR(value / {HIST_BIN_W}) AS INT))"
    grid = dl.series_0_to(HIST_N_BINS, "bucket", d)
    term = (
        "(CAST(n_a + 0.5 AS DOUBLE) / CAST(tot_a + {sm} AS DOUBLE)"
        " - CAST(n_b + 0.5 AS DOUBLE) / CAST(tot_b + {sm} AS DOUBLE))"
        " * LN((CAST(n_a + 0.5 AS DOUBLE) / CAST(tot_a + {sm} AS DOUBLE))"
        " / (CAST(n_b + 0.5 AS DOUBLE) / CAST(tot_b + {sm} AS DOUBLE)))"
    ).format(sm=f"{0.5 * HIST_N_BINS}")
    if d == dl.SPARK:
        # r15 (guide §2.4/§7.2): the shared body references `binned` twice
        # (grid's DISTINCT types + full_bins) and `full_bins` twice (tot +
        # final), and Spark inlines multi-referenced CTEs — 4 events scans
        # and 9 Exchanges in the r14 plan. This branch is a single linear
        # chain: per-type bin MAP (one agg), per-type grid fan-out off the
        # map (explode, no join), totals as a window over the fan-out —
        # 1 scan, 2 Exchanges. Values identical (same counts, same
        # smoothing, same DECIMAL(28,12) reduce); DuckDB keeps the r14
        # text (it deduplicates CTEs), so the oracle is unchanged.
        return f"""
WITH binned AS (
    SELECT event_type,
           {bucket} AS bucket,
           CAST(COUNT(*) FILTER (WHERE ts <  {split}) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE ts >= {split}) AS BIGINT) AS n_b
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, {bucket}
),
typed AS (
    SELECT event_type,
           map_from_entries(collect_list(struct(bucket, struct(n_a, n_b)))) AS m
    FROM binned GROUP BY event_type
),
full_bins AS (
    SELECT event_type,
           COALESCE(m[bucket].n_a, 0) AS n_a,
           COALESCE(m[bucket].n_b, 0) AS n_b
    FROM typed LATERAL VIEW explode(sequence(0, {HIST_N_BINS - 1})) g AS bucket
),
wtot AS (
    SELECT event_type, n_a, n_b,
           SUM(n_a) OVER (PARTITION BY event_type) AS tot_a,
           SUM(n_b) OVER (PARTITION BY event_type) AS tot_b
    FROM full_bins
)
SELECT event_type,
       CAST(ROUND(SUM(CAST({term} AS DECIMAL(28,12))), 6) AS DOUBLE) AS psi,
       CAST(MAX(tot_a) AS BIGINT) AS n_before,
       CAST(MAX(tot_b) AS BIGINT) AS n_after
FROM wtot
GROUP BY event_type
"""
    return f"""
WITH binned AS (
    SELECT event_type,
           {bucket} AS bucket,
           CAST(COUNT(*) FILTER (WHERE ts <  {split}) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE ts >= {split}) AS BIGINT) AS n_b
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, {bucket}
),
grid AS (
    SELECT t.event_type, g.bucket
    FROM (SELECT DISTINCT event_type FROM binned) t
    CROSS JOIN {grid} g
),
full_bins AS (
    SELECT g.event_type, g.bucket,
           COALESCE(b.n_a, 0) AS n_a,
           COALESCE(b.n_b, 0) AS n_b
    FROM grid g
    LEFT JOIN binned b ON g.event_type = b.event_type AND g.bucket = b.bucket
),
tot AS (
    SELECT event_type,
           CAST(SUM(n_a) AS BIGINT) AS tot_a,
           CAST(SUM(n_b) AS BIGINT) AS tot_b
    FROM full_bins GROUP BY event_type
)
SELECT f.event_type,
       -- round in DECIMAL space, not on the double: the sum is an EXACT
       -- 12-dp decimal, which lands on round()'s .5e-6 half-way points
       -- where Spark (shortest-repr HALF_UP) and DuckDB (binary-value
       -- rounding) diverge; both engines round decimal ties identically
       -- (half away from zero) — the dsir_select lesson applied here.
       CAST(ROUND(SUM(CAST({term} AS DECIMAL(28,12))), 6) AS DOUBLE) AS psi,
       CAST(MAX(t.tot_a) AS BIGINT) AS n_before,
       CAST(MAX(t.tot_b) AS BIGINT) AS n_after
FROM full_bins f
JOIN tot t ON f.event_type = t.event_type
GROUP BY f.event_type
"""


register_sql(
    "psi_drift",
    _psi_drift,
    doc="PSI distribution-drift gate: per-type Population Stability Index "
    "between stream halves over the fixed histogram bins, Laplace-"
    "smoothed so both engines handle empty bins identically.",
    bench=True,
)


#: k-anonymity threshold: quasi-identifier combinations seen fewer than
#: K times are re-identification risks.
K_ANON = 5


def _k_anonymity(d: str) -> str:
    """k-anonymity audit over the events stream: group by the
    quasi-identifier tuple a release would expose (event_type, event day,
    coarse value band) and report every combination's
    size with an at-risk flag below K_ANON members — the flagged rows are
    the ones whose subjects a joiner could single out, and the safe rows
    make the release's coverage reviewable in the same report.
    The companion to pii_scrub (column-level redaction) and forget_keys
    (row-level erasure): this one measures the RELEASE's group sizes,
    which is what privacy review actually signs off on.

    One grouped count + a filter; the quasi-id grain bounds the group
    count, so the report scales like any keyed agg. Day extraction goes
    through the epoch-aligned bucket (identical in both engines).
    """
    day = dl.tumble_start("ts", 86_400, d)
    band = f"CAST(FLOOR(value / 100) AS INT)"
    return f"""
SELECT event_type,
       {day} AS day,
       {band} AS value_band,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(*) < {K_ANON} AS INT) AS at_risk
FROM events
WHERE value IS NOT NULL
GROUP BY event_type, {day}, {band}
"""


register_sql(
    "k_anonymity",
    _k_anonymity,
    doc=f"k-anonymity audit (k={K_ANON}): quasi-identifier combinations "
    "small enough to re-identify — the group-size check privacy review "
    "runs before a release; one keyed aggregate.",
)


def _winsorize(d: str) -> str:
    """Winsorization per event_type: clip ``value`` to its type's exact
    [p05, p95] band — the robust pre-normalization step feature pipelines
    run where outlier_mad only FLAGS (clipping keeps the row, caps its
    leverage). One grouped percentile pass (bitwise-identical exact
    interpolation, the text_length_quantiles precedent) broadcast-joined
    back onto the stream; the clip itself is codegen CASE arithmetic.
    At 100 TB the percentile pass swaps to approx_percentile exactly as
    dq_profile documents.
    """
    lo = _pctl("value", "0.05", d)
    hi = _pctl("value", "0.95", d)
    return f"""
WITH bands AS (
    SELECT event_type, {lo} AS p05, {hi} AS p95
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
)
SELECT e.event_id,
       e.event_type,
       e.value,
       CASE WHEN e.value < b.p05 THEN b.p05
            WHEN e.value > b.p95 THEN b.p95
            ELSE e.value END AS value_winsorized,
       CAST(e.value < b.p05 OR e.value > b.p95 AS INT) AS clipped
FROM events e
JOIN bands b ON e.event_type = b.event_type
WHERE e.value IS NOT NULL
"""


register_sql(
    "winsorize_values",
    _winsorize,
    doc="Per-type winsorization: clip to the exact [p05, p95] band "
    "(one grouped percentile pass broadcast back; codegen clip).",
)


def _equidepth_histogram(d: str) -> str:
    """Equi-depth (decile) histogram of ``value`` per event_type — the
    complement of value_histogram's fixed-width bins: every bucket holds
    the same row count and the BOUNDARIES carry the information (where
    fixed bins starve in the tails). NTILE over a per-type total order
    ((value, event_id) — ties deterministic) is a PARTITIONED window:
    the shuffle key is event_type, no global sort anywhere.
    """
    return """
SELECT event_type,
       decile,
       MIN(value) AS lo,
       MAX(value) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT event_type, value,
           NTILE(10) OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS decile
    FROM events WHERE value IS NOT NULL
) t
GROUP BY event_type, decile
"""


register_sql(
    "equidepth_histogram",
    _equidepth_histogram,
    doc="Per-type equi-depth decile histogram: NTILE over a deterministic "
    "per-type total order (partitioned window, no global sort).",
)


def observed_write(df, path: str, value_col: str, *, fmt: str = "parquet") -> dict:
    """Write ``df`` while collecting audit metrics IN THE SAME JOB via
    Spark's Observation API — row count, null count and min/max/sum of
    ``value_col`` ride the write's single pass, so a 100 TB export gets
    its quality counters without a second scan (the usual pattern is
    write-then-re-read-and-aggregate, doubling IO). The returned dict is
    the write's receipt: pair it with ``maintenance.publish_if`` to gate
    publication on the metrics, or persist it next to a shard manifest.

    Metrics are exact aggregates computed by the executors during the
    write; ``Observation.get`` blocks until the job finishes.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).isNull().cast("long")).alias("n_null"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
        F.sum(F.col(value_col).cast("decimal(30,6)")).cast("double").alias("sum_val"),
    )
    observed.write.mode("overwrite").format(fmt).save(path)
    return dict(obs.get)


#: Declarative expectation suite over the events stream: each rule is a
#: (name, violation-count expression) pair evaluated in one scan, plus
#: one anti-join rule for referential integrity.
def _dq_constraints(d: str) -> str:
    """Constraint/expectation suite (the Great-Expectations/Deequ class
    of check, relationally): NOT NULL, uniqueness, domain membership,
    value range — all violation counts from ONE wide aggregate scan —
    plus an orphaned-FK count from one anti-join, unpivoted to a
    (rule, violations, passed) report. At 100 TB the scan rules cost a
    single pass regardless of rule count (they share the aggregate), the
    FK rule one shuffle; the report is the gate input for
    ``maintenance.publish_if`` (fail -> snapshot never publishes).

    The uniqueness rule counts COUNT(*) - COUNT(DISTINCT event_id) via
    exact distinct (Expand at scale; swap approx_count_distinct with a
    tolerance like dq_profile_approx documents when 100 TB exactness
    isn't required).

    This is the self-contained/oracle text (DuckDB materializes the
    multi-referenced `scan` CTE); the registered Spark side unpivots the
    single scalar row with stack() instead of the 5-branch UNION, which
    Spark re-inlines into 5 events scans (corpus_report's r10 fix).
    """
    return _dq_ctes(d) + """,
report AS (
    SELECT 'null_user_id' AS rule, null_user_id AS violations FROM scan
    UNION ALL
    SELECT 'duplicate_event_id', duplicate_event_id FROM scan
    UNION ALL
    SELECT 'event_type_domain', event_type_domain FROM scan
    UNION ALL
    SELECT 'negative_value', negative_value FROM scan
    UNION ALL
    SELECT 'ts_before_epoch', ts_before_epoch FROM scan
    UNION ALL
    SELECT 'orphan_lineitem_fk', orphan_lineitem FROM fk
)
SELECT rule, violations,
       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM report
"""


#: The five scan-rule columns (rule name == column name) — one list
#: drives both the UNION oracle above and the Spark stack() form.
_DQ_SCAN_RULES = [
    "null_user_id",
    "duplicate_event_id",
    "event_type_domain",
    "negative_value",
    "ts_before_epoch",
]


def _dq_ctes(d: str) -> str:
    return """
WITH scan AS (
    SELECT CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS null_user_id,
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
               AS duplicate_event_id,
           CAST(SUM(CASE WHEN event_type NOT IN
                    ('click', 'view', 'purchase', 'signup', 'error')
                    THEN 1 ELSE 0 END) AS BIGINT) AS event_type_domain,
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS negative_value,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS BIGINT) AS ts_before_epoch
    FROM events
),
fk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS orphan_lineitem
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
)"""


def _dq_constraints_spark(spark, sf_dir):
    """stack() unpivot of the single scalar scan row + the FK rule —
    genuinely ONE events scan (the UNION form re-inlined `scan` per
    branch: 5 scans)."""
    stack_args = ", ".join(f"'{r}', {r}" for r in _DQ_SCAN_RULES)
    return spark.sql(
        _dq_ctes(dl.SPARK)
        + f""",
report AS (
    SELECT rule, violations
    FROM scan
    LATERAL VIEW stack({len(_DQ_SCAN_RULES)}, {stack_args}) t AS rule, violations
    UNION ALL
    SELECT 'orphan_lineitem_fk', orphan_lineitem FROM fk
)
SELECT rule, violations,
       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM report
"""
    )


register_df(
    "dq_constraints",
    _dq_constraints_spark,
    oracle_body=_dq_constraints(dl.DUCK),
    doc="Declarative constraint suite: NOT NULL / uniqueness / domain / "
    "range rules from ONE scan-wide aggregate plus an FK anti-join, "
    "reported as (rule, violations, passed) — the publish_if gate input.",
)


def constraints_gate(view: str = "events"):
    """A ``maintenance.publish_if`` check built from the constraint
    suite: shadow ``view`` with the STAGED snapshot, evaluate every
    ``dq_constraints`` rule against it, and pass only if no rule has
    violations — so a snapshot with a constraint breach is structurally
    unpublishable (the pointer never flips to it). The catalog's other
    views (lineitem/orders for the FK rule) must be registered; the
    shadow is dropped and the catalog invalidated whether the check
    passes or not."""
    from pyspark.sql import functions as F

    from .. import catalog as _catalog
    from ..dialect import SPARK

    def dq_constraints_gate(staged) -> bool:
        spark = staged.sparkSession
        staged.createOrReplaceTempView(view)
        try:
            report = _dq_constraints_spark(spark, None)
            return report.where(F.col("passed") == 0).isEmpty()
        finally:
            spark.catalog.dropTempView(view)
            _catalog.forget_registration(spark)

    return dq_constraints_gate


def _dq_profile_approx_contract(spark, sf_dir):
    """dq_profile_approx's deterministic contract twin (the same move
    that upgraded the HLL/CMS sketches and nexmark_q12, VERDICT r10
    item 6): exact per-column stats — oracle-checkable value-for-value —
    plus a bool row asserting the HLL++ distinct estimate sits within
    5% (HLL++ default rsd) of the exact count. The engine-native
    dq_profile_approx entry stays registered as the 100 TB form; this
    twin is what makes its error bound a driver-checkable fact instead
    of a pytest-only contract."""
    from pyspark.sql import functions as F

    exact = spark.sql(_dq_profile(dl.SPARK)).alias("e")
    approx = _dq_profile_approx(spark, sf_dir).alias("a")
    return (
        exact.join(approx, "col_name")
        .select(
            "col_name",
            F.col("e.n_rows").alias("n_rows"),
            F.col("e.n_nulls").alias("n_nulls"),
            F.col("e.n_distinct").alias("n_distinct"),
            F.col("e.min_num").alias("min_num"),
            F.col("e.max_num").alias("max_num"),
            (
                F.abs(F.col("a.n_distinct") - F.col("e.n_distinct"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("e.n_distinct"))
            ).alias("distinct_within_5pct"),
        )
    )


register_df(
    "dq_profile_approx_contract",
    _dq_profile_approx_contract,
    oracle_body=f"""
SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
       TRUE AS distinct_within_5pct
FROM ({_dq_profile(dl.DUCK)}) t
""",
    doc="Deterministic within-error contract for dq_profile_approx "
    "(exact per-column stats + HLL++ distinct within 5%): full value oracle.",
)
