"""Two-dialect SQL emission (Spark SQL + DuckDB).

The correctness gate runs every query twice — once on Spark, once on DuckDB
over the same parquet fixtures — and compares row counts, schemas and an
order-insensitive value hash. To keep the two sides from drifting, each
query is written ONCE as a dialect-parameterized body; the handful of
functions that genuinely differ between Spark SQL and DuckDB are isolated
here.

Hard-won dialect facts (verified against pyspark 4.1 / duckdb 1.0):

- ``CAST(x AS STRING)`` works in both (STRING is a VARCHAR alias in DuckDB).
- ``CAST(double AS INT)`` TRUNCATES in Spark but ROUNDS in DuckDB — always
  go through ``FLOOR`` first (:func:`to_int`).
- ``SUM(int)`` returns BIGINT in Spark but HUGEINT in DuckDB — cast.
- Sums over DOUBLE are order-dependent; both engines are IEEE-correct but
  accumulate in different orders. Aggregate through DECIMAL (exact, hence
  order-independent) and cast the final result to DOUBLE (:func:`dsum`).
- Spark ``unix_timestamp`` truncates sub-second; DuckDB ``epoch`` keeps it.
  ``FLOOR`` on the DuckDB side makes them agree for positive timestamps.
- Decimal→DOUBLE casts are only correctly rounded in BOTH engines when the
  scaled integer fits in 2^53 (DuckDB computes int128→double / 10^scale —
  two roundings). Reduce high-scale decimal sums to DECIMAL(38,6) before
  casting (both engines round half-up, and value/10^6 stays exact): see
  the ``CAST(CAST(SUM(..) AS DECIMAL(38,6)) AS DOUBLE)`` pattern in tpch.py.
- All fixture timestamps are treated as TIMESTAMP_NTZ on the Spark side so
  that both engines hand back naive (wall-clock UTC) values.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duckdb"


def to_int(x: str, d: str) -> str:
    """double → int with truncation semantics in BOTH dialects."""
    return f"CAST(FLOOR({x}) AS INT)"


def bsum(x: str, d: str) -> str:
    """SUM(integer expr) normalized to BIGINT in both dialects."""
    return f"CAST(SUM({x}) AS BIGINT)"


#: Limb width for :func:`spark_grid_sum`.
GRID_LIMB = 1_000_000
#: Per-group row cap that bounds ALL THREE limb accumulators statically
#: (ADVICE r15 — the old 9e12 cap only bounded the <10^6 mid/lo limbs):
#: ``scaled`` is a BIGINT produced by an ANSI cast that RAISES on
#: per-row overflow (Spark 4 default, asserted in test_dialect), so
#: |scaled| <= 2^63-1 and |hi| = |scaled DIV 10^12| <= 9,223,372 always.
#: 1e12 rows x 9,223,372 = 9.2233720e18 < 2^63-1 = 9.2233720368...e18,
#: and 1e12 x (10^6-1) < 1e18 for mid/lo — so no limb sum can wrap below
#: the cap, for ANY value magnitude the cast admits. (A runtime
#: COUNT(*) x MAX(ABS(hi)) guard was A/B'd first: exact too, but +4-8%
#: on tpch_q1's wall — the static cap costs nothing.) 1e12 is still
#: ~1.7x a 100 TB lineitem's TOTAL rows, per group.
GRID_GROUP_ROW_CAP = 1_000_000_000_000


def grid_scaled(x: str, k: int) -> str:
    """``x`` (a double KNOWN to lie on the 10^-k decimal grid) as a
    BIGINT count of 10^-k units. Spark-side kernel for
    :func:`spark_grid_sum`; pair factors BEFORE multiplying so products
    stay exact integers (never round a double product)."""
    return f"CAST(ROUND(({x}) * {10 ** k}) AS BIGINT)"


def spark_grid_sum(scaled: str, k: int) -> str:
    """Exact order-independent sum of BIGINT ``scaled`` (10^-k units),
    returned as DECIMAL(38,k) — the fast Spark twin of the
    CAST-to-DECIMAL sum idiom, for columns on a known decimal grid.

    Why: ``SUM(CAST(x AS DECIMAL(20,4)))`` is exact but its >18-digit
    accumulator keeps the whole aggregate off the vectorized fast path
    (measured: q1 3x the all-double strawman; narrowing precisions did
    not help). Summing three 10^6-limbs of the scaled BIGINT keeps every
    accumulator a plain long — vectorized, partial-agg friendly — and
    the final reassembly (per GROUP, not per row) is exact decimal
    arithmetic. Bitwise-identical output proven vs the decimal idiom at
    sf0.001/0.01/0.1 (tests/test_oracle.py covers it continuously).

    Scale bound: past :data:`GRID_GROUP_ROW_CAP` rows per group the sum
    raises loudly (raise_error) instead of wrapping silently. The cap
    bounds ALL three limb accumulators for any magnitude the per-row
    ANSI BIGINT cast admits — see the cap's derivation comment. 100 TB
    TPC-H lineitem is ~6e11 rows TOTAL, under the cap even for a
    single-group aggregate.

    DuckDB keeps the decimal-cast text (its HUGEINT/int128 sums are
    already exact and the oracle's wall is not graded) — call sites fork
    on dialect so the oracle text stays byte-identical to r14.
    """
    m = GRID_LIMB
    hi = f"(({scaled}) DIV {m} DIV {m})"
    mid = f"((({scaled}) DIV {m}) % {m})"
    lo = f"(({scaled}) % {m})"
    total = (
        f"(CAST(SUM({hi}) AS DECIMAL(38,0)) * {m * m} "
        f"+ CAST(SUM({mid}) AS DECIMAL(38,0)) * {m} "
        f"+ CAST(SUM({lo}) AS DECIMAL(38,0)))"
    )
    # The single row-count predicate bounds ALL three limb sums — see
    # GRID_GROUP_ROW_CAP's derivation (|hi| <= 9,223,372 because
    # ``scaled`` is an ANSI-cast BIGINT that raises on per-row
    # overflow, so no separate magnitude guard is needed or paid for).
    guarded = (
        f"CASE WHEN COUNT(*) >= {GRID_GROUP_ROW_CAP} THEN "
        f"CAST(raise_error('spark_grid_sum: group exceeds "
        f"{GRID_GROUP_ROW_CAP} rows; BIGINT limb accumulators could "
        f"overflow — widen GRID_LIMB') AS DECIMAL(38,0)) "
        f"ELSE {total} END"
    )
    return f"CAST({guarded} / {10 ** k} AS DECIMAL(38,{k}))"


def dsum(x: str, d: str, prec: str = "DECIMAL(20,4)") -> str:
    """Order-independent sum of a double expr, returned as DOUBLE.

    Routing the accumulation through DECIMAL makes the result exact, hence
    identical no matter which partition/merge order Spark or DuckDB use.
    """
    return f"CAST(SUM(CAST({x} AS {prec})) AS DOUBLE)"


def davg(x: str, d: str, prec: str = "DECIMAL(20,4)") -> str:
    """Order-independent average of a double expr (exact sum / count)."""
    return f"(CAST(SUM(CAST({x} AS {prec})) AS DOUBLE) / COUNT(*))"


def gsum(x: str, d: str, k: int = 4) -> str:
    """:func:`dsum` for columns on the 10^-k decimal grid (money,
    quantity, event value — every generator emits them .round(<=4)):
    the Spark side sums BIGINT limbs (:func:`spark_grid_sum`), DuckDB
    keeps the :func:`dsum` text byte-for-byte so the oracle semantics
    cannot move. Value-identical on grid data; do NOT use for
    free-precision doubles (nll/log terms), where the decimal cast's
    shortest-repr rounding and ROUND's binary rounding can differ."""
    if d == SPARK:
        return f"CAST({spark_grid_sum(grid_scaled(x, k), k)} AS DOUBLE)"
    return dsum(x, d)


def gavg(x: str, d: str, k: int = 4) -> str:
    """:func:`davg` on the 10^-k grid — see :func:`gsum`.

    The divisor is ``COUNT(*)`` — matching :func:`davg`'s divisor
    byte-for-byte, NOT SQL AVG's COUNT(x): the davg/gavg pair declares
    sum-over-all-rows semantics and BOTH dialect branches share it, so
    a NULL-bearing differential fixture (~3% NULL events.value,
    tools/randgen.py) divides by the same count in both engines.
    Swapping either side to COUNT(x) alone would diverge them."""
    if d == SPARK:
        return f"(CAST({spark_grid_sum(grid_scaled(x, k), k)} AS DOUBLE) / COUNT(*))"
    return davg(x, d)


def secadd(ts: str, n: str, d: str) -> str:
    """timestamp + n seconds, n an integer SQL expression."""
    if d == SPARK:
        return f"timestampadd(SECOND, {n}, {ts})"
    return f"({ts} + INTERVAL (CAST({n} AS BIGINT)) SECOND)"


def epoch_s(ts: str, d: str) -> str:
    """Whole seconds since epoch (BIGINT, floor semantics) of a naive ts."""
    if d == SPARK:
        return f"unix_timestamp(CAST({ts} AS TIMESTAMP))"
    return f"CAST(FLOOR(epoch({ts})) AS BIGINT)"


def ts_from_s(secs: str, d: str) -> str:
    """BIGINT epoch-seconds → naive timestamp."""
    if d == SPARK:
        return f"CAST(timestamp_seconds({secs}) AS TIMESTAMP_NTZ)"
    return f"(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (CAST({secs} AS BIGINT)) SECOND)"


def intdiv(a: str, b: str, d: str) -> str:
    if d == SPARK:
        return f"({a} DIV {b})"
    return f"({a} // {b})"


def tumble_start(ts: str, size_s: int, d: str) -> str:
    """Start of the epoch-aligned tumbling window containing ``ts``.

    Matches Spark's ``window(ts, '<size> seconds')`` bucketing (aligned to
    1970-01-01) so the DuckDB oracle can replay Spark's native windows.
    Mirrors flock's epoch-bucketed windows (flock/src/stream/window.rs:80-113).
    """
    e = epoch_s(ts, d)
    return ts_from_s(f"({intdiv(e, str(size_s), d)} * {size_s})", d)


def hop_bucket(ts: str, slide_s: int, d: str) -> str:
    """Index of the slide-aligned bucket containing ``ts`` (for hopping windows)."""
    return intdiv(epoch_s(ts, d), str(slide_s), d)


def ts_lit(s: str, d: str) -> str:
    """Naive timestamp literal."""
    if d == SPARK:
        return f"TIMESTAMP_NTZ '{s}'"
    return f"TIMESTAMP '{s}'"


def datefmt(ts: str, kind: str, d: str) -> str:
    """Format a timestamp as a partition string; kind in {'date', 'hm'}."""
    pats = {
        SPARK: {"date": "yyyy-MM-dd", "hm": "HH:mm"},
        DUCK: {"date": "%Y-%m-%d", "hm": "%H:%M"},
    }
    fn = "date_format" if d == SPARK else "strftime"
    return f"{fn}({ts}, '{pats[d][kind]}')"


def md5_i64(expr: str, d: str) -> str:
    """Deterministic 60-bit positive BIGINT hash of a string expression,
    bit-identical across engines (verified: both parse the first 15 hex
    chars of md5 to the same integer). The cross-engine replacement for
    xxhash64 wherever the oracle must replay a hash-dependent pipeline;
    at production scale the same structure runs on xxhash64 (cheaper,
    same width) when oracle replay isn't needed."""
    if d == SPARK:
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def bxor(a: str, b: str, d: str) -> str:
    """Bitwise XOR of two BIGINTs."""
    if d == SPARK:
        return f"({a} ^ {b})"
    return f"xor({a}, {b})"


def shiftr(x: str, n: str, d: str) -> str:
    """Bitwise right shift (arithmetic in both engines; callers keep
    operands non-negative so the distinction never bites)."""
    if d == SPARK:
        return f"shiftright({x}, {n})"
    return f"({x} >> ({n}))"


def regex_replace_all(s: str, pat: str, rep: str, d: str) -> str:
    """Replace ALL matches (DuckDB needs the explicit 'g' flag)."""
    if d == SPARK:
        return f"regexp_replace({s}, '{pat}', '{rep}')"
    return f"regexp_replace({s}, '{pat}', '{rep}', 'g')"


def regex_count(s: str, pat: str, d: str) -> str:
    """Number of regex matches in a string (BIGINT in both)."""
    if d == SPARK:
        # regexp_count (3.5+) counts without materializing the match
        # array regexp_extract_all built per row (r15 opt, guide SS4.1:
        # same non-overlapping left-to-right match count, no allocation)
        return f"CAST(regexp_count({s}, '{pat}') AS BIGINT)"
    return f"CAST(len(regexp_extract_all({s}, '{pat}')) AS BIGINT)"


def split_tokens(s: str, d: str) -> str:
    """Whitespace tokenization → array of non-empty tokens."""
    if d == SPARK:
        return f"filter(split(trim({s}), '\\\\s+'), x -> x != '')"
    return f"list_filter(string_split_regex(trim({s}), '\\s+'), x -> x != '')"


def array_len(arr: str, d: str) -> str:
    """Array length, NULL for a NULL array in both dialects. Spark's
    ``size(NULL)`` is -1 whenever ``spark.sql.ansi.enabled`` is false, so
    every Spark-side length uses ``array_size``."""
    if d == SPARK:
        return f"CAST(array_size({arr}) AS BIGINT)"
    return f"CAST(len({arr}) AS BIGINT)"


def norm_positive(v: str, d: str) -> str:
    """Zero-norm (all-zero / corrupt) embedding guard, both dialects.

    Cosine against a zero vector is UNDEFINED and the engines disagree
    about it in the worst way: Spark's ANSI division raises
    DIVIDE_BY_ZERO (one corrupt row kills a 100 TB job) while DuckDB's
    ``list_cosine_similarity`` silently returns -1.0 (r12 degenerate
    differential probe). Every cosine-ranking entry filters its vector
    sources through this predicate in BOTH dialects: corrupt embeddings
    are dropped, not ranked."""
    if d == SPARK:
        return f"aggregate({v}, 0D, (acc, x) -> acc + x * x) > 0"
    return f"list_dot_product({v}, {v}) > 0"


LEVENSHTEIN_ALPHABET_CAP = 127  # chr(1..127) are the single-byte UTF-8 symbols


def levenshtein_codepoints(a: str, b: str, d: str) -> str:
    """Levenshtein edit distance over CODE POINTS in both dialects.

    Spark's ``levenshtein`` is already code-point; DuckDB's counts BYTES
    (probed on this build: ``levenshtein('🚀🚀','ab')`` = 2 in Spark vs 8
    in DuckDB — the r12 differential exclusion). The DuckDB form recodes
    the pair's joint code-point alphabet to one single-byte symbol each
    (``string_split(s, '')`` is code-point based — combining marks and
    ZWJ split out, probed; Spark's ``split(s, '')`` matches exactly),
    which preserves the edit distance because any per-pair injective
    symbol map does. Guards (ADVICE r13), branch-for-branch IDENTICAL in
    both dialects so a differential pair can never diverge on a guard:

    - NULL input → NULL (matches plain ``levenshtein``; previously the
      DuckDB CASE fell into the error branch);
    - an empty side → the other side's code-point length (DuckDB's
      ``string_split('', '')`` is ``['']``, which would recode an empty
      doc to one symbol);
    - a joint alphabet beyond LEVENSHTEIN_ALPHABET_CAP single-byte
      symbols (127 = chr 1..127; was 95) → NULL in BOTH dialects — a deterministic per-pair
      exclusion a `dist <= k` predicate drops on both sides, instead of
      an error() that killed the whole oracle query on an unlucky
      unicode-rich seed.
    """
    cap = LEVENSHTEIN_ALPHABET_CAP
    if d == SPARK:
        alpha_n = f"array_size(array_distinct(split({a} || {b}, '')))"
        return (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN CAST(NULL AS INT) "
            f"WHEN length({a}) = 0 OR length({b}) = 0 "
            f"THEN length({a}) + length({b}) "
            f"WHEN {alpha_n} <= {cap} THEN levenshtein({a}, {b}) "
            f"ELSE CAST(NULL AS INT) END"
        )
    alpha = f"list_distinct(string_split({a} || {b}, ''))"

    def recode(s: str) -> str:
        return (
            f"list_aggregate(list_transform(string_split({s}, ''), "
            f"c_ -> chr(list_position({alpha}, c_))), 'string_agg', '')"
        )

    return (
        f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN length({a}) = 0 OR length({b}) = 0 "
        f"THEN length({a}) + length({b}) "
        f"WHEN len({alpha}) <= {cap} "
        f"THEN levenshtein({recode(a)}, {recode(b)}) "
        f"ELSE CAST(NULL AS BIGINT) END"
    )


def word_shingles(toks: str, w: int, d: str) -> str:
    """Array of word w-gram strings from a token array (empty when < w)."""
    if d == SPARK:
        return (
            f"CASE WHEN array_size({toks}) >= {w} THEN "
            f"transform(sequence(1, array_size({toks}) - {w - 1}), "
            f"i -> concat_ws(' ', slice({toks}, i, {w}))) "
            f"ELSE array() END"
        )
    return (
        f"CASE WHEN len({toks}) >= {w} THEN "
        f"list_transform(generate_series(1, len({toks}) - {w - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {w - 1}), ' ')) "
        f"ELSE [] END"
    )


def pos_shingle_fanout(w: int, d: str) -> tuple[str, str]:
    """(lateral_clause, shingle_expr) over a token-array column ``tk``:
    explode integer positions, render ONE word w-gram per output row.

    Use this instead of ``explode(word_shingles(...))`` whenever shingles
    become rows: Spark re-does the array lambda's work per exploded row —
    quadratic in tokens per doc (measured 6x end-to-end on 5k docs).
    Rows with < w tokens explode an empty sequence and produce nothing.
    """
    if d == SPARK:
        return (
            f"LATERAL VIEW explode(CASE WHEN array_size(tk) >= {w} "
            f"THEN sequence(1, array_size(tk) - {w - 1}) ELSE array() END) g AS pos",
            f"concat_ws(' ', slice(tk, pos, {w}))",
        )
    return (
        f", unnest(CASE WHEN len(tk) >= {w} "
        f"THEN generate_series(1, len(tk) - {w - 1}) ELSE [] END) AS g(pos)",
        f"array_to_string(list_slice(tk, pos, pos + {w - 1}), ' ')",
    )


def unnest_fn(d: str) -> str:
    """Array-to-rows generator function name (1 array col in SELECT)."""
    return "explode" if d == SPARK else "unnest"


def series_0_to(n: int, alias: str, d: str) -> str:
    """FROM-clause relation producing integers 0..n-1 in column ``alias``."""
    if d == SPARK:
        return f"(SELECT explode(sequence(0, {n - 1})) AS {alias})"
    return f"(SELECT CAST(k AS INT) AS {alias} FROM generate_series(0, {n - 1}) t(k))"


def lateral_series(n: int, alias: str, d: str) -> str:
    """Per-row fan-out 0..n-1 appended after a FROM table (no join: Spark
    plans a same-stage Generate, DuckDB a tiny cross join)."""
    if d == SPARK:
        return f"LATERAL VIEW explode(sequence(0, {n - 1})) _fan AS {alias}"
    return (
        f"CROSS JOIN (SELECT CAST(_k AS INT) AS {alias} "
        f"FROM generate_series(0, {n - 1}) _t(_k)) _fan"
    )
