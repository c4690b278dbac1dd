"""Text analysis over the ``documents`` table.

Training-data-pipeline basics: token counting (whitespace + BPE-ish regex
pre-tokenization), quality scoring (length/punctuation/stopword ratios),
language ID (stopword n-gram heuristic), and document fingerprinting
(content hash + order-invariant token-set hash).

Everything is built-in SQL functions (JVM-side, whole-stage codegen) — no
Python UDFs in the hot path, so the same plan runs unchanged over 100 TB:
pure per-row projections, no shuffle at all until a downstream groupBy.
"""

from __future__ import annotations

from .. import dialect as dl
from ..registry import register_df, register_sql

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans"],
    "es": ["el", "los", "las", "es", "para", "con", "una"],
}


def _word_alt(words: list[str], d: str) -> str:
    # Spark SQL string literals treat backslash as an escape (so the SQL text
    # needs \\b to reach the regex engine as \b); DuckDB strings don't.
    b = r"\\b" if d == dl.SPARK else r"\b"
    return b + "(" + "|".join(words) + ")" + b


def _text_stats(d: str) -> str:
    toks = dl.split_tokens("text", d)
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       {dl.array_len(toks, d)} AS n_tokens,
       {dl.array_len(f'list_distinct({toks})' if d == dl.DUCK else f'array_distinct({toks})', d)} AS n_uniq_tokens,
       {dl.regex_count('text', '[0-9]', d)} AS n_digits,
       {dl.regex_count('text', '[.!?,;:]', d)} AS n_punct
FROM documents
"""


register_sql(
    "text_stats",
    _text_stats,
    doc="Per-document token/char/punct statistics (pure built-ins, no shuffle).",
    bench=True,
)


def _token_count_bpe(d: str) -> str:
    # BPE-ish pre-tokenizer: word pieces, digit runs, single non-space symbols.
    pat = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\\\s]" if d == dl.SPARK else "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]"
    return f"""
SELECT doc_id,
       {dl.regex_count('text', pat, d)} AS n_bpe_tokens,
       {dl.array_len(dl.split_tokens('text', d), d)} AS n_ws_tokens
FROM documents
"""


register_sql(
    "token_count",
    _token_count_bpe,
    doc="Token counting: whitespace + BPE-style regex pre-tokenization.",
)


def _quality(d: str) -> str:
    toks = dl.split_tokens("text", d)
    n_tok = dl.array_len(toks, d)
    stop = dl.regex_count("text", _word_alt(_STOPWORDS["en"], d), d)
    punct = dl.regex_count("text", "[.!?,;:]", d)
    return f"""
SELECT doc_id,
       lang,
       (CAST({stop} AS DOUBLE) / ({n_tok} + 1)) AS stopword_ratio,
       (CAST({punct} AS DOUBLE) / (length(text) + 1)) AS punct_ratio,
       (CAST(length(text) AS DOUBLE) / ({n_tok} + 1)) AS mean_token_span,
       CAST(length(text) >= 100 AND {n_tok} >= 20 AS INT) AS passes_length_gate
FROM documents
"""


register_sql(
    "text_quality",
    _quality,
    doc="Quality scoring: stopword/punct/length ratios + hard length gate.",
)


#: Fixed logistic weights for the quality classifier — a documented
#: stand-in for a trained fasttext/LR quality model (the weights would
#: come from training; the INFERENCE plumbing is what this operator
#: proves). Chosen so the fixture corpus straddles the 0.5 boundary
#: (stopword_ratio 0-0.21, n_tok 10-99, mean_token_span 4.4-5.9).
_QC_W = {
    "bias": -1.0,
    "stopword_ratio": 12.0,
    "punct_ratio": -30.0,
    "log_n_tok": 0.22,
    "mean_token_span": -0.12,
}


def _quality_classifier(d: str) -> str:
    """Model scoring as a pure-SQL projection: a logistic quality
    classifier over the text_quality features — the shape a trained
    fasttext/LR quality filter takes in a Spark pipeline (weights are a
    broadcastable constant vector; inference is whole-stage-codegen
    arithmetic, zero shuffle, so scoring 100 TB costs one scan).
    Deterministic: the features are integer-derived, the linear term and
    EXP are IEEE-identical across engines, and the keep decision tests
    the raw margin sign (no float-rounded threshold).
    """
    toks = dl.split_tokens("text", d)
    n_tok = dl.array_len(toks, d)
    w = _QC_W
    z = (
        f"{w['bias']} + {w['stopword_ratio']} * stopword_ratio"
        f" + {w['punct_ratio']} * punct_ratio"
        f" + {w['log_n_tok']} * LN(1 + n_tok)"
        f" + {w['mean_token_span']} * mean_token_span"
    )
    return f"""
WITH f AS (
    SELECT q.doc_id, q.stopword_ratio, q.punct_ratio, q.mean_token_span, t.n_tok
    FROM ({_quality(d)}) q
    JOIN (SELECT doc_id, {n_tok} AS n_tok FROM documents) t
      ON q.doc_id = t.doc_id
),
scored AS (SELECT doc_id, {z} AS z FROM f)
SELECT doc_id,
       ROUND(1.0 / (1.0 + EXP(-z)), 6) AS quality_score,
       CAST(z >= 0 AS INT) AS keep
FROM scored
"""


register_sql(
    "quality_classifier",
    _quality_classifier,
    doc="Logistic quality-model inference as pure codegen SQL "
    "(fasttext/LR-shaped scoring; fixed documented weights).",
)


#: Calibration floor: keep the top (1 - floor) fraction of each source.
_CAL_KEEP_FLOOR = 0.8


def _quality_calibration(d: str) -> str:
    """Per-source percentile calibration of the quality margin: a single
    global score threshold keeps different fractions of heterogeneous
    sources (a clean-encyclopedia source would pass wholesale, a noisy
    crawl barely at all); selecting by PERCENT_RANK *within* source keeps
    a comparable top slice of each — the per-domain quantile thresholding
    step real curation pipelines run between scoring and sampling
    (sample_domain_cap then bounds absolute volume).

    Distribution: the rank is a window partitioned by source — the same
    keyed shuffle any per-source agg pays, no global ordering anywhere.
    Determinism: ORDER BY (z, doc_id) is a total order, so PERCENT_RANK
    is identical across engines and partitionings. Unscorable docs
    (NULL text → NULL margin) are EXCLUDED before ranking: engines
    disagree on default NULL sort placement (Spark ASC = NULLS FIRST,
    DuckDB = NULLS LAST), which silently shifted every percentile in
    any source containing one NULL doc (r12 randomized differential
    lane) — and a doc with no text has no place in a quality ranking.
    """
    toks = dl.split_tokens("text", d)
    n_tok = dl.array_len(toks, d)
    w = _QC_W
    z = (
        f"{w['bias']} + {w['stopword_ratio']} * stopword_ratio"
        f" + {w['punct_ratio']} * punct_ratio"
        f" + {w['log_n_tok']} * LN(1 + n_tok)"
        f" + {w['mean_token_span']} * mean_token_span"
    )
    return f"""
WITH f AS (
    SELECT q.doc_id, s.source, q.stopword_ratio, q.punct_ratio, q.mean_token_span, t.n_tok
    FROM ({_quality(d)}) q
    JOIN (SELECT doc_id, {n_tok} AS n_tok FROM documents) t ON q.doc_id = t.doc_id
    JOIN (SELECT doc_id, source FROM documents) s ON q.doc_id = s.doc_id
),
ranked AS (
    SELECT doc_id, source, z,
           PERCENT_RANK() OVER (PARTITION BY source ORDER BY z, doc_id) AS pr
    FROM (SELECT doc_id, source, {z} AS z FROM f) scored
    WHERE z IS NOT NULL
)
SELECT doc_id, source,
       ROUND(z, 6) AS margin,
       ROUND(pr, 6) AS source_pct_rank,
       CAST(pr >= {_CAL_KEEP_FLOOR} AS INT) AS keep_top
FROM ranked
"""


register_sql(
    "quality_calibration",
    _quality_calibration,
    doc="Per-source percentile calibration: PERCENT_RANK of the quality "
    "margin within each source keeps a comparable top slice of "
    "heterogeneous sources (total-order ties, partitioned window only).",
)


def _lang_guess(d: str) -> str:
    scores = {
        lang: dl.regex_count("text", _word_alt(words, d), d)
        for lang, words in _STOPWORDS.items()
    }
    zh = dl.regex_count("text", "[\\u4e00-\\u9fff]" if d == dl.SPARK else "[\\x{4e00}-\\x{9fff}]", d)
    en, de, fr, es = scores["en"], scores["de"], scores["fr"], scores["es"]
    return f"""
SELECT doc_id,
       lang AS lang_label,
       CASE
         WHEN {zh} > 0 THEN 'zh'
         WHEN {en} >= {de} AND {en} >= {fr} AND {en} >= {es} THEN 'en'
         WHEN {de} >= {fr} AND {de} >= {es} THEN 'de'
         WHEN {fr} >= {es} THEN 'fr'
         ELSE 'es'
       END AS lang_guess
FROM documents
"""


register_sql(
    "lang_id",
    _lang_guess,
    doc="Language ID: stopword-hit heuristic with deterministic tie-break.",
)


def _fingerprint(d: str) -> str:
    toks = dl.split_tokens("lower(text)", d)
    if d == dl.SPARK:
        tokset = f"array_join(array_sort(array_distinct({toks})), ' ')"
    else:
        # DuckDB's array_to_string([]) is NULL where Spark's
        # array_join([]) is '' — an empty document must fingerprint as
        # md5('') in both engines, and a NULL document as NULL in both
        # (r12 randomized differential lane: empty-text docs).
        tokset = (
            f"CASE WHEN {toks} IS NULL THEN NULL ELSE COALESCE("
            f"array_to_string(list_sort(list_distinct({toks})), ' '), '') END"
        )
    return f"""
SELECT doc_id,
       md5(text) AS content_fp,
       md5({tokset}) AS tokenset_fp
FROM documents
"""


register_sql(
    "doc_fingerprint",
    _fingerprint,
    doc="Document fingerprints: exact content hash + order-invariant token-set hash.",
)


def _tfidf(d: str) -> str:
    """Corpus-level TF-IDF, top-3 terms per document.

    Two shuffles total (doc-term counts; term doc-frequencies joined back),
    both on bounded keys — the standard scalable formulation. log/round are
    IEEE-identical across engines; ties broken lexicographically.
    """
    toks = dl.split_tokens("lower(text)", d)
    if d == dl.SPARK:
        explode = f"SELECT doc_id, explode({toks}) AS term FROM documents"
    else:
        explode = f"SELECT doc_id, unnest({toks}) AS term FROM documents"
    return f"""
WITH terms AS ({explode}),
tf AS (
    SELECT doc_id, term, COUNT(*) AS n
    FROM terms
    GROUP BY doc_id, term
),
doc_n AS (
    SELECT doc_id, CAST(SUM(n) AS DOUBLE) AS total FROM tf GROUP BY doc_id
),
df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS n_docs FROM terms GROUP BY term
),
corpus AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_corpus FROM documents
),
scored AS (
    SELECT tf.doc_id,
           tf.term,
           ROUND((tf.n / doc_n.total) * LN(corpus.n_corpus / df.n_docs), 6) AS tfidf
    FROM tf
    JOIN doc_n ON tf.doc_id = doc_n.doc_id
    JOIN df ON tf.term = df.term
    CROSS JOIN corpus
)
SELECT doc_id, term, tfidf, rnk
FROM (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rnk
    FROM scored
)
WHERE rnk <= 3
"""


register_sql(
    "tfidf_top_terms",
    _tfidf,
    doc="Corpus TF-IDF with top-3 terms per doc (two bounded shuffles).",
)


def _lm_perplexity(d: str, dt_src: str | None = None) -> str:
    """CCNet-style language-model quality scoring: per-document average
    negative log-likelihood (and perplexity) under a unigram LM whose
    probabilities are the corpus's own token frequencies — the classic
    "perplexity filter" a training-data pipeline runs to rank documents
    by fluency before mixing (beyond-parity; the reference has no text
    ops at all).

    Scale shape: token explode → ONE grouped count builds the LM (vocab-
    sized, shuffle on token) → per-(doc,token) counts join the LM on an
    equi-key → one keyed reduction per doc. No driver-side model object:
    the "LM" is a DataFrame, so 100 TB trains and scores in the same two
    shuffles (at cluster scale the vocab table is broadcast-joinable
    after a frequency floor). The NLL sum accumulates through DECIMAL so
    partition/merge order can't perturb the float result (dialect.py
    pattern); LN/EXP/division are IEEE-identical across engines.
    Zero-token docs have no defined perplexity and are excluded (their
    quality signal comes from text_quality's length stats).

    ``dt_src`` (Spark side): a (doc_id, tok, n) relation to use instead
    of deriving per-(doc, token) counts from a fresh corpus tokenize —
    the retrieval family's ret_tf matview holds exactly this relation
    (same lower(text) tokenization), so the unigram LM trains and scores
    from the session-materialized inverted-index statistics; the unigram
    model is then just SUM(n) per token over it.
    """
    toks = dl.split_tokens("lower(text)", d)
    un = dl.unnest_fn(d)
    nll_term = f"dt.n * (-LN(lm.c / t.n_total))"
    if dt_src is not None:
        dt_cte = f"dt AS ({dt_src})"
        lm_cte = (
            "lm AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS c FROM dt "
            "GROUP BY tok)"
        )
        head = f"WITH {dt_cte},\n{lm_cte}"
    else:
        head = f"""WITH toks AS (
    SELECT doc_id, {un}({toks}) AS tok FROM documents
),
lm AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
dt AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY doc_id, tok
)"""
    return f"""
{head},
t AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM lm
),
scored AS (
    SELECT dt.doc_id,
           {dl.bsum("dt.n", d)} AS n_tokens,
           {dl.dsum(nll_term, d, "DECIMAL(28,12)")} AS nll_sum
    FROM dt
    JOIN lm ON dt.tok = lm.tok
    CROSS JOIN t
    GROUP BY dt.doc_id
)
SELECT doc_id,
       n_tokens,
       ROUND(nll_sum / n_tokens, 6) AS avg_nll,
       ROUND(EXP(nll_sum / n_tokens), 4) AS perplexity
FROM scored
"""


def lm_unigram_dt_src(spark, sf_dir) -> str:
    """(doc_id, tok, n) source SQL over the ret_tf matview — the shared
    per-(doc, token) counts every unigram-LM consumer reads."""
    from .retrieval import corpus_token_views

    tf, _, _ = corpus_token_views(spark, sf_dir)
    return f"SELECT doc_id, tok, tf AS n FROM {tf}"


register_sql(
    "lm_perplexity",
    _lm_perplexity,
    doc="Unigram-LM perplexity quality score per document (CCNet-style "
    "filter): corpus-trained token frequencies, two bounded shuffles.",
)


def _len_quantiles(spark, sf_dir):
    """Document-length quantiles — EXACT percentile (linear interpolation,
    bitwise-identical to DuckDB's quantile_cont). Scale note: exact
    percentiles sort the full column; at 100 TB swap in
    approx_percentile (t-digest) — registered separately below with an
    error-bound test instead of an oracle."""
    return spark.sql(
        """
        SELECT round(percentile(length(text), 0.25), 4) AS q25,
               round(percentile(length(text), 0.50), 4) AS q50,
               round(percentile(length(text), 0.75), 4) AS q75,
               round(percentile(length(text), 0.95), 4) AS q95
        FROM documents
        """
    )


register_df(
    "text_length_quantiles",
    _len_quantiles,
    oracle_body="""
SELECT round(quantile_cont(length(text), 0.25), 4) AS q25,
       round(quantile_cont(length(text), 0.50), 4) AS q50,
       round(quantile_cont(length(text), 0.75), 4) AS q75,
       round(quantile_cont(length(text), 0.95), 4) AS q95
FROM documents
""",
    doc="Exact length quantiles (linear interpolation, cross-engine bitwise).",
)


def _approx_stats(spark, sf_dir):
    """Sketch-based aggregates — the 100 TB forms of DISTINCT/percentile:
    HyperLogLog++ count-distinct and t-digest percentiles, fixed-size
    state, one pass, mergeable across partitions. Approximate by design →
    rows-only check; error bounds vs exact are pytest-asserted
    (tests/test_sketches.py)."""
    return spark.sql(
        """
        SELECT event_type,
               approx_count_distinct(user_id) AS approx_users,
               CAST(approx_percentile(value, 0.5) AS DOUBLE) AS approx_median_value
        FROM events
        GROUP BY event_type
        """
    )


register_df(
    "approx_sketch_stats",
    _approx_stats,
    doc="HLL++ distinct + t-digest percentile sketches (bounded-state 100 TB path).",
)


def _pii_scrub(d: str) -> str:
    """PII masking over the documents table AS-IS (the redaction pass a
    pipeline runs before anything else): emails, phone-ish digit runs,
    and IPv4 literals replaced by typed placeholder tokens. Pure per-row
    regex (zero shuffle, fully pushdown-compatible). Patterns and masks
    are the SHARED set in operators.pii — one source of truth for every
    detector in the repo. The fixture corpus contains no PII, so this
    entry's oracle row-values are trivially equal; the sibling
    ``pii_scan`` plants deterministic PII inside its query so its oracle
    value-checks real matches, and the patterns are additionally
    value-tested on synthetic PII in both engines
    (tests/test_dialect.py::test_pii_patterns_match_in_both_engines)."""
    from .pii import PII_PATTERNS, redact_expr, sql_pattern

    counts = " + ".join(
        dl.regex_count("text", sql_pattern(pat, d), d)
        for pat in PII_PATTERNS.values()
    )
    return f"""
SELECT doc_id,
       {redact_expr("text", d)} AS scrubbed,
       CAST(({counts}) AS BIGINT) AS n_pii
FROM documents
"""


register_sql(
    "pii_scrub",
    _pii_scrub,
    doc="PII redaction: email/IP/phone masking + per-doc match counts.",
)


def _repetition(d: str) -> str:
    """Gopher-style repetition filters, COUNT-based: documents dominated
    by a few repeated tokens/bigrams are boilerplate, not prose. Computed
    the distributed way — explode → two bounded groupBys keyed on doc_id
    (no per-row quadratic lambda, so arbitrarily long documents stay
    cheap); int/int division is a single IEEE op, bitwise-equal across
    engines. The paper-faithful CHARACTER-based top-n-gram fractions and
    the duplicated-5-gram span coverage live in selection.
    gopher_repetition — this entry is the cheap one-pass screen, that one
    the published gate."""
    toks = dl.split_tokens("lower(text)", d)
    un = dl.unnest_fn(d)
    bg_fanout, bg_one = dl.pos_shingle_fanout(2, d)
    return f"""
WITH tok AS (
    SELECT doc_id, {un}({toks}) AS t FROM documents
),
tok_counts AS (
    SELECT doc_id, t, COUNT(*) AS n FROM tok GROUP BY doc_id, t
),
tok_stats AS (
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(MAX(n) AS BIGINT) AS top_token_n,
           COUNT(*) AS n_distinct
    FROM tok_counts GROUP BY doc_id
),
bg AS (
    SELECT doc_id, {bg_one} AS b
    FROM (SELECT doc_id, {toks} AS tk FROM documents) tt
    {bg_fanout}
),
bg_counts AS (
    SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY doc_id, b
),
bg_stats AS (
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(MAX(n) AS BIGINT) AS top_bigram_n
    FROM bg_counts GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_tokens,
       (1.0 - CAST(t.n_distinct AS DOUBLE) / t.n_tokens) AS dup_token_frac,
       (CAST(t.top_token_n AS DOUBLE) / t.n_tokens) AS top_token_frac,
       (CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams) AS top_bigram_frac,
       CAST(CAST(t.top_token_n AS DOUBLE) / t.n_tokens <= 0.2
            AND CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams <= 0.18 AS INT)
           AS passes_repetition_gate
FROM tok_stats t
JOIN bg_stats b ON t.doc_id = b.doc_id
"""


register_sql(
    "text_repetition",
    _repetition,
    doc="Gopher-style repetition metrics: dup-token / top-token / top-bigram fractions.",
)


BIGRAM_SMOOTH_K = "CAST(0.5 AS DOUBLE)"  # add-k smoothing


def _bigram_fanout(d: str) -> tuple[str, str, str]:
    """(fanout clause, w1 expr, w2 expr) of the positional bigram
    explode — shared by every bigram-model entry."""
    if d == dl.SPARK:
        fanout = (
            "LATERAL VIEW explode(CASE WHEN array_size(tk) >= 2 "
            "THEN sequence(1, array_size(tk) - 1) ELSE array() END) g AS pos"
        )
        return fanout, "element_at(tk, pos)", "element_at(tk, pos + 1)"
    fanout = (
        ", unnest(CASE WHEN len(tk) >= 2 "
        "THEN generate_series(1, len(tk) - 1) ELSE [] END) AS g(pos)"
    )
    return fanout, "tk[pos]", "tk[pos + 1]"


def _lm_pairs_sql(d: str) -> str:
    """Corpus positional bigram relation (doc_id, w1, w2) — the ONE
    corpus-scale fan-out every bigram-model entry (add-k, Kneser-Ney,
    frozen-model batch scoring) derives its model and scoring tables
    from via the ``pairs_src`` hook."""
    toks = dl.split_tokens("lower(text)", d)
    fanout, w1, w2 = _bigram_fanout(d)
    return f"""SELECT doc_id, {w1} AS w1, {w2} AS w2
    FROM (SELECT doc_id, {toks} AS tk FROM documents) t
    {fanout}"""


def lm_pairs_view(spark, sf_dir) -> str:
    """Temp-view name over the session-MATERIALIZED bigram relation —
    the hook for sessions that score the bigram family repeatedly
    (callers pass ``pairs_src=f"SELECT doc_id, w1, w2 FROM {view}"``).

    Deliberately NOT the registered entries' default: measured at the
    sf1 soak, eagerly materializing ~10M string pair rows DOUBLES a
    single query's wall (lm_perplexity_kn 9.9 -> 24.8 s) — the
    re-scanned text column is small and column-pruned, so the
    3-6x redundant fan-out is cheaper than one materialization until a
    session runs the family ~3+ times. At 100 TB the tokenize-once
    artifact is a persisted pipeline STAGE (build_minhash_band_index's
    pattern), which is exactly what ``pairs_src`` accepts."""
    from .. import catalog

    return catalog.session_matview(
        spark, "lm_pairs", sf_dir, _lm_pairs_sql(dl.SPARK)
    )


def _lm_perplexity_bigram(d: str, pairs_src: str | None = None) -> str:
    """Bigram-LM perplexity (the CCNet filter one order up from
    lm_perplexity's unigram model): per-document average NLL under
    P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V), add-k smoothed so unseen
    continuations stay finite — fluency scoring that punishes improbable
    token ORDER, which the unigram model cannot see.

    Scale shape mirrors the unigram entry: one positional pair fan-out
    (linear, no array-lambda re-evaluation; materialized once per
    session on the Spark side — ``pairs_src``), ONE grouped count per
    model table (bigram + unigram — vocab-sized, shuffle on the gram),
    per-doc occurrences equi-join the model, one keyed DECIMAL reduction
    per doc (association-order-free; LN/division IEEE-identical). V is
    the whitelisted corpus-scalar class. Docs under 2 tokens have no
    bigrams and are excluded, like zero-token docs in the unigram entry.

    Honest note: like lm_perplexity, the model trains on the corpus it
    scores, so every bigram is in-model and the COALESCE(unseen) branch
    cannot fire here — it exists (and is smoothed) so the same SQL scores
    NEW batches against a frozen model table, where unseen pairs are the
    point.
    """
    k = BIGRAM_SMOOTH_K
    nll = f"dt.n * (-LN((COALESCE(bg.c, 0) + {k}) / (ug.c + {k} * v.n_vocab)))"
    return f"""
WITH pairs AS ({pairs_src or _lm_pairs_sql(d)}),
bg AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w1, w2
),
ug AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w1
),
v AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab FROM ug
),
dt AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY doc_id, w1, w2
),
scored AS (
    SELECT dt.doc_id,
           {dl.bsum("dt.n", d)} AS n_bigrams,
           {dl.dsum(nll, d, "DECIMAL(28,12)")} AS nll_sum
    FROM dt
    JOIN ug ON dt.w1 = ug.w1
    LEFT JOIN bg ON dt.w1 = bg.w1 AND dt.w2 = bg.w2
    CROSS JOIN v
    GROUP BY dt.doc_id
)
SELECT doc_id,
       n_bigrams,
       ROUND(nll_sum / n_bigrams, 6) AS avg_nll,
       ROUND(EXP(nll_sum / n_bigrams), 4) AS perplexity
FROM scored
"""


register_sql(
    "lm_perplexity_bigram",
    _lm_perplexity_bigram,
    doc="Bigram-LM perplexity filter (add-k smoothed conditional "
    "probabilities; punishes improbable token order the unigram LM "
    "cannot see).",
)


KN_DISCOUNT = "CAST(0.75 AS DOUBLE)"  # absolute discount D (Chen & Goodman)


def _lm_perplexity_kn(d: str, pairs_src: str | None = None) -> str:
    """Interpolated Kneser-Ney bigram perplexity — the smoothing that
    actually ships in n-gram LM filters (Chen & Goodman 1999; KenLM),
    one rung above ``lm_perplexity_bigram``'s add-k:

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                   + D·N1+(w1,·)/c(w1) · N1+(·,w2)/|bigram types|

    The continuation probability N1+(·,w2)/T scores how many CONTEXTS a
    word completes, not how often it occurs — the "San Francisco"
    correction (frequent-but-one-context words stop leaking probability
    into unseen contexts).

    Scale shape matches the bigram entry: one positional pair fan-out,
    grouped counts for the bigram/unigram/fertility tables (all
    vocab-sized), per-doc occurrences equi-join the model, one keyed
    DECIMAL reduction per doc. All model counts are integers, so both
    engines feed LN identical IEEE ratios (single division per factor,
    same expression tree); T is the whitelisted corpus-scalar class.
    Docs under 2 tokens have no bigrams and are excluded, like the
    add-k entry.
    """
    D = KN_DISCOUNT
    p = (
        f"(GREATEST(COALESCE(bg.c, 0) - {D}, CAST(0 AS DOUBLE)) / ug.c"
        f" + ({D} * fw.n1f / ug.c) * (CAST(cw.n1b AS DOUBLE) / tt.n))"
    )
    nll = f"dt.n * (-LN({p}))"
    return f"""
WITH pairs AS ({pairs_src or _lm_pairs_sql(d)}),
bg AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w1, w2
),
ug AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w1
),
fert_fwd AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1f FROM bg GROUP BY w1
),
fert_bwd AS (
    SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY w2
),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
dt AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY doc_id, w1, w2
),
scored AS (
    SELECT dt.doc_id,
           {dl.bsum("dt.n", d)} AS n_bigrams,
           {dl.dsum(nll, d, "DECIMAL(28,12)")} AS nll_sum
    FROM dt
    JOIN ug ON dt.w1 = ug.w1
    JOIN fert_fwd fw ON dt.w1 = fw.w1
    JOIN fert_bwd cw ON dt.w2 = cw.w2
    LEFT JOIN bg ON dt.w1 = bg.w1 AND dt.w2 = bg.w2
    CROSS JOIN tt
    GROUP BY dt.doc_id
)
SELECT doc_id,
       n_bigrams,
       ROUND(nll_sum / n_bigrams, 6) AS avg_nll,
       ROUND(EXP(nll_sum / n_bigrams), 4) AS perplexity
FROM scored
"""


register_sql(
    "lm_perplexity_kn",
    _lm_perplexity_kn,
    doc="Interpolated Kneser-Ney bigram perplexity: absolute discounting "
    "+ continuation-count backoff (the KenLM-class smoothing).",
)


VOCAB_K = 1000  # frozen-vocabulary size for coverage scoring


def _vocab_coverage(d: str) -> str:
    """Per-document vocabulary coverage / OOV rate against a frozen
    top-{VOCAB_K} corpus vocabulary — the tokenizer-fit metric a training
    pipeline tracks per source (a rising OOV rate flags content the
    tokenizer fragments into bytes).

    The vocabulary is a deterministic top-K (count DESC, token ASC) via
    ORDER BY + LIMIT — TakeOrderedAndProject, never a single-partition
    window — then broadcast into a LEFT join against per-doc token
    occurrences. One fan-out + two grouped passes; no corpus-scalar
    stage.
    """
    toks = dl.split_tokens("lower(text)", d)
    un = dl.unnest_fn(d)
    return f"""
WITH occ AS (
    SELECT doc_id, {un}({toks}) AS tok FROM documents
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY tok
    ) f
    ORDER BY c DESC, tok ASC
    LIMIT {VOCAB_K}
)
SELECT occ.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) - COUNT(vocab.tok) AS BIGINT) AS n_oov,
       ROUND(CAST(COUNT(*) - COUNT(vocab.tok) AS DOUBLE) / COUNT(*), 6)
           AS oov_rate
FROM occ LEFT JOIN vocab ON occ.tok = vocab.tok
GROUP BY occ.doc_id
"""


register_sql(
    "vocab_coverage",
    _vocab_coverage,
    doc="Per-doc OOV rate vs a frozen deterministic top-K corpus "
    "vocabulary (tokenizer-fit tracking).",
)


def _lm_score_new_batch(d: str, pairs_src: str | None = None) -> str:
    """Score a NEW batch against a FROZEN bigram LM — the deployment form
    of lm_perplexity_bigram: the model trains only on the corpus slice
    (doc_id % 4 != 0, the dedup_incremental convention for "already
    ingested"), the held-out batch (doc_id % 4 = 0) is scored against it,
    so unseen bigrams genuinely hit the smoothed COALESCE branch — the
    add-k floor is live, not latent. Emits the unseen-bigram count per
    doc alongside perplexity: batch docs whose n_unseen fraction spikes
    are drifting away from the corpus distribution (the quality signal
    CCNet thresholds on).

    Same two model shuffles as the self-scored entry; the batch side is
    a quarter of the corpus and joins the model on the bigram key. The
    train/score split is a pure doc_id predicate, so both sides slice
    the ONE shared pairs relation (filter-before-fanout and
    filter-after-fanout are the same relation; the Spark side reads the
    session-materialized lm_pairs view).
    """
    k = BIGRAM_SMOOTH_K
    # Unseen w1 contributes the uniform floor k/(k*V) with zero context
    # count — COALESCE on BOTH model sides keeps the probability proper.
    nll = (
        f"dt.n * (-LN((COALESCE(bg.c, 0) + {k}) "
        f"/ (COALESCE(ug.c, 0) + {k} * v.n_vocab)))"
    )
    return f"""
WITH pairs AS ({pairs_src or _lm_pairs_sql(d)}),
corpus_pairs AS (
    SELECT w1, w2 FROM pairs WHERE doc_id % 4 <> 0
),
bg AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM corpus_pairs GROUP BY w1, w2
),
ug AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM corpus_pairs GROUP BY w1
),
v AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab FROM ug
),
batch_pairs AS (
    SELECT doc_id, w1, w2 FROM pairs WHERE doc_id % 4 = 0
),
dt AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM batch_pairs GROUP BY doc_id, w1, w2
),
scored AS (
    SELECT dt.doc_id,
           {dl.bsum("dt.n", d)} AS n_bigrams,
           {dl.bsum("CASE WHEN bg.c IS NULL THEN dt.n ELSE 0 END", d)} AS n_unseen,
           {dl.dsum(nll, d, "DECIMAL(28,12)")} AS nll_sum
    FROM dt
    LEFT JOIN ug ON dt.w1 = ug.w1
    LEFT JOIN bg ON dt.w1 = bg.w1 AND dt.w2 = bg.w2
    CROSS JOIN v
    GROUP BY dt.doc_id
)
SELECT doc_id,
       n_bigrams,
       n_unseen,
       ROUND(nll_sum / n_bigrams, 6) AS avg_nll,
       ROUND(EXP(nll_sum / n_bigrams), 4) AS perplexity
FROM scored
"""


register_sql(
    "lm_score_new_batch",
    _lm_score_new_batch,
    doc="Frozen-model batch scoring: held-out docs scored against the "
    "corpus-trained bigram LM; unseen-bigram counts make the smoothing "
    "branch live.",
)


def _zipf_slope(d: str) -> str:
    """Corpus language-health check: the Zipf slope — ordinary least
    squares of LN(freq) on LN(rank) over the token frequency table.
    Natural language sits near -1; templated/synthetic corpora flatten
    toward 0, token-soup noise steepens — a one-number drift alarm
    between corpus snapshots (pairs with corpus_report).

    One token-count shuffle + one rank window + one scalar reduction.
    The OLS sums accumulate through DECIMAL (the lm_perplexity pattern)
    so partition order can't perturb the closed-form slope:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).
    """
    toks = dl.split_tokens("lower(trim(text))", d)
    un = dl.unnest_fn(d)
    prec = "DECIMAL(28,12)"
    return f"""
WITH freq AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
    FROM (SELECT {un}({toks}) AS tok FROM documents) t
    GROUP BY tok
),
ranked AS (
    SELECT f,
           ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) AS r
    FROM freq
),
pts AS (
    SELECT LN(CAST(r AS DOUBLE)) AS x, LN(CAST(f AS DOUBLE)) AS y FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dl.dsum('x', d, prec)} AS sx,
           {dl.dsum('y', d, prec)} AS sy,
           {dl.dsum('x * y', d, prec)} AS sxy,
           {dl.dsum('x * x', d, prec)} AS sxx
    FROM pts
)
SELECT n AS n_token_types,
       ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
             / CAST((n * sxx - sx * sx) AS DOUBLE), 4) AS zipf_slope
FROM s
"""


register_sql(
    "zipf_slope",
    _zipf_slope,
    doc="Zipf slope of the token frequency distribution (log-log OLS, "
    "DECIMAL-exact sums) — the one-number language-health drift alarm.",
)


def _bpe_merge_step(d: str) -> str:
    """The unit step of BPE tokenizer training (Sennrich et al. 2016):
    count adjacent symbol pairs inside word tokens across the corpus and
    surface the top merge candidates. Full training iterates — apply the
    winning merge, recount — with each round this same one-pass job; at
    100 TB the pair fan-out is ~|corpus chars| but collapses map-side
    into a <=26^2-key partial aggregate, and the top-k is a
    TakeOrderedAndProject, so the driver loop moves only K rows/round
    (the kmeans_lloyd pattern applied to tokenizer training)."""
    if d == dl.SPARK:
        words = (
            "SELECT w FROM documents "
            "LATERAL VIEW explode(split(lower(text), '[^a-z]+')) t AS w "
            "WHERE length(w) >= 2"
        )
        pairs = (
            "SELECT pair FROM words LATERAL VIEW explode("
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            ") p AS pair"
        )
    else:
        words = (
            "SELECT w FROM (SELECT UNNEST(string_split_regex(lower(text), "
            "'[^a-z]+')) AS w FROM documents) t WHERE length(w) >= 2"
        )
        pairs = (
            "SELECT UNNEST(list_transform(range(1, length(w)), "
            "i -> substr(w, CAST(i AS INT), 2))) AS pair FROM words"
        )
    return f"""
WITH words AS ({words}),
pairs AS ({pairs})
SELECT pair, COUNT(*) AS n_pair
FROM pairs
GROUP BY pair
ORDER BY n_pair DESC, pair ASC
LIMIT 20
"""


register_sql(
    "bpe_merge_step",
    _bpe_merge_step,
    doc="BPE tokenizer-training merge step: corpus-wide adjacent char-pair "
    "counts inside words, top-20 merge candidates (deterministic ties).",
)


#: Unrolled BPE training depth. Each extra merge is one more copy of the
#: same count→argmax→apply CTE block; 3 proves the loop (like
#: kmeans_lloyd's 4 Lloyd iterations) while keeping the oracle replay
#: readable.
BPE_TRAIN_K = 3


def _bpe_words0(d: str) -> str:
    """The BPE training corpus w0: distinct-word FREQUENCY table
    (Sennrich's dictionary form), words as space-separated character
    symbols. Training on word types, not occurrences, means pair counts
    weight by word frequency (SUM(wn) == the occurrence count exactly)
    while every downstream transform / fan-out touches only |word types|
    rows — measured 2.9s -> 1.7s at sf0.1 with identical output (the
    equality is algebraic)."""
    if d == dl.SPARK:
        chars = "concat_ws(' ', split(w, ''))"
        counts = (
            "SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM ("
            "SELECT w FROM documents "
            "LATERAL VIEW explode(split(lower(text), '[^a-z]+')) t AS w "
            "WHERE length(w) >= 2) o GROUP BY w"
        )
    else:
        chars = "array_to_string(string_split(w, ''), ' ')"
        counts = (
            "SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM "
            "(SELECT UNNEST(string_split_regex(lower(text), "
            "'[^a-z]+')) AS w FROM documents) t WHERE length(w) >= 2 GROUP BY w"
        )
    return f"SELECT ' ' || {chars} || ' ' AS s, wn FROM ({counts}) base"


def _bpe_train_merges(d: str, w0_src: str | None = None, k: int = BPE_TRAIN_K) -> str:
    """BPE tokenizer TRAINING, {BPE_TRAIN_K} merges unrolled in one plan
    (Sennrich et al. 2016 §3.2): start from character symbols, then per
    round: count adjacent symbol pairs corpus-wide -> take the most
    frequent (ties: lexicographic, deterministic) -> merge every
    non-overlapping occurrence -> recount on the merged corpus. The
    companion of bpe_merge_step (which surfaces ONE round's candidates):
    this runs the actual loop, so round r's winner reflects round r-1's
    merge.

    Representation: words as single-space-separated symbol strings
    (' h e l l o '), a merge = string replace of ' a b ' with ' ab ',
    applied twice so runs of the same symbol chain-merge left-to-right
    (' l l l ' -> ' ll l ', as BPE's non-overlapping greedy scan does;
    runs longer than ~5 equal symbols would need more passes — absent
    in natural-language words, and both engines share the replace text
    so the oracle replays whatever the rule does bit-for-bit).

    Scale shape: each round is one corpus-scan pair count that collapses
    map-side to a symbol-pair-keyed aggregate (bounded by vocab², tiny),
    one 1-row argmax joined back by CROSS JOIN broadcast, and a per-row
    projection applying the merge — no shuffle wider than the pair
    count, {BPE_TRAIN_K} rounds in ONE Catalyst plan with zero driver
    round-trips (the winning pair travels as a broadcast scalar, the
    kmeans-centroid pattern).
    """
    words0 = w0_src if w0_src is not None else _bpe_words0(d)
    fanout, one = dl.pos_shingle_fanout(2, d)
    rounds = []
    for r in range(1, k + 1):
        prev = "w0" if r == 1 else f"w{r - 1}"
        rounds.append(f"""
        cnt{r} AS (
            SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
            FROM (
                SELECT {one} AS pair, wn
                FROM (SELECT {dl.split_tokens('s', d)} AS tk, wn FROM {prev}) t
                {fanout}
            ) p
            GROUP BY pair
        ),
        best{r} AS (
            SELECT pair, n, replace(pair, ' ', '') AS merged
            FROM cnt{r} ORDER BY n DESC, pair ASC LIMIT 1
        ),
        w{r} AS (
            SELECT replace(replace(s,
                       ' ' || b.pair || ' ', ' ' || b.merged || ' '),
                       ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS s,
                   wn
            FROM {prev} CROSS JOIN best{r} b
        )""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, pair, merged, n FROM best{r}"
        for r in range(1, k + 1)
    )
    return f"""
WITH w0 AS ({words0}),
{",".join(rounds)}
{finals}
ORDER BY merge_rank
"""


def _bpe_w0_src(spark, sf_dir) -> str:
    """w0 source over the session-materialized word-frequency table: the
    BPE chain's rounds each reference the previous round's corpus, and
    under Spark's CTE inlining every round re-derived w0 from a fresh
    corpus scan (7 scans in the training plan); the word-type table is
    Sennrich's dictionary — built once, a few 10k rows, every round then
    costs |word types| work."""
    from .. import catalog

    view = catalog.session_matview(spark, "bpe_w0", sf_dir, _bpe_words0(dl.SPARK))
    return f"SELECT s, wn FROM {view}"


def _bpe_train_merges_spark(spark, sf_dir):
    return spark.sql(
        _bpe_train_merges(dl.SPARK, w0_src=_bpe_w0_src(spark, sf_dir))
    )


register_df(
    "bpe_train_merges",
    _bpe_train_merges_spark,
    oracle_body=_bpe_train_merges(dl.DUCK),
    doc=f"BPE tokenizer training, {BPE_TRAIN_K} merges unrolled in one "
    "plan: corpus pair count -> deterministic argmax -> apply merge -> "
    "recount; winners reflect prior rounds' merges.",
    bench=True,
)


#: Merge count above which :func:`bpe_train_merges_at` switches from the
#: single-plan unrolled form to the per-round checkpointed (stepped)
#: form. The unrolled chain references each round's corpus twice (next
#: round's pair count AND the merge application), and Spark inlines
#: multi-referenced CTEs, so the plan carries ~2^K-1 count/argmax legs —
#: fine at the declared K=3 (7 legs; stepped measured +19% at bench
#: fixture scale, r15 §19, and a wash at 10x), super-exponential soon
#: after. Measured on the 10x stress corpus, min-of-3 warm per fresh
#: session (OPTIMIZATION_r16.md): K=3 unrolled 0.865s vs stepped 0.870s
#: (wash); K=4 1.346 vs 1.138 (-15%); K=5 1.864 vs 1.350 (-28%);
#: K=6 2.613 vs 1.322 (-49%) — the crossover is at K=4, so 3 is the
#: last unrolled K.
BPE_STEPPED_K_THRESHOLD = 3


def bpe_train_merges_at(spark, sf_dir, k: int = BPE_TRAIN_K, form: str = "auto"):
    """BPE training at an arbitrary merge count ``k`` — the scale form of
    the registered ``bpe_train_merges`` entry (which stays the declared
    K=3 unrolled plan, byte-identical oracle; this is the
    ``ann_ivfpq_topk_at`` pattern for tokenizer training).

    ``form``: "unrolled" (one Catalyst plan, zero driver round-trips,
    ~2^k-1 legs), "stepped" (per-round localCheckpoint, linear in k, one
    1-row argmax collect per round — the only viable shape at
    vocabulary-scale K), or "auto" (stepped past
    :data:`BPE_STEPPED_K_THRESHOLD`). Both forms emit the identical
    (merge_rank, pair, merged, n) rows — asserted in tests/test_analytics
    at a K above and below the threshold."""
    if form == "auto":
        form = "stepped" if k > BPE_STEPPED_K_THRESHOLD else "unrolled"
    if form == "unrolled":
        return spark.sql(
            _bpe_train_merges(dl.SPARK, w0_src=_bpe_w0_src(spark, sf_dir), k=k)
        )
    from pyspark.sql import functions as F

    from .. import catalog

    view = catalog.session_matview(spark, "bpe_w0", sf_dir, _bpe_words0(dl.SPARK))
    fanout, one = dl.pos_shingle_fanout(2, dl.SPARK)
    cur = spark.table(view).selectExpr("s", "wn")
    bests = []
    for r in range(1, k + 1):
        cur_view = f"bpe_step_w{r - 1}"
        cur.createOrReplaceTempView(cur_view)
        best = spark.sql(f"""
            SELECT pair, n, replace(pair, ' ', '') AS merged FROM (
                SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
                FROM (
                    SELECT {one} AS pair, wn
                    FROM (SELECT {dl.split_tokens('s', dl.SPARK)} AS tk, wn
                          FROM {cur_view}) t
                    {fanout}
                ) p
                GROUP BY pair
            ) ORDER BY n DESC, pair ASC LIMIT 1
        """).localCheckpoint(eager=True)
        bests.append(best.selectExpr(f"{r} AS merge_rank", "pair", "merged", "n"))
        if r == k:
            break
        w = best.first()  # 1 row: the winning pair as a literal, no broadcast
        pat, rep = f" {w['pair']} ", f" {w['merged']} "
        # the pair is data: bound as literals, never spliced into SQL text
        merge = F.replace(F.col("s"), F.lit(pat), F.lit(rep))
        cur = cur.select(
            F.replace(merge, F.lit(pat), F.lit(rep)).alias("s"), "wn"
        ).localCheckpoint(eager=True)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.orderBy("merge_rank")


def _bpe_compression_curve(d: str, w0_src: str | None = None) -> str:
    """ENCODE-side effect of BPE training: corpus token count after each
    of bpe_train_merges' rounds (round 0 = character symbols). The curve
    a tokenizer team actually watches — each merge's marginal compression
    — and the proof the learned merges APPLY: round r's total must drop
    by exactly the winning pair's occurrence count... minus the overlaps
    the non-overlapping greedy scan skips, which is why measuring on the
    merged corpus (not inferring from pair counts) is the honest form.
    Reuses the identical w0..w{BPE_TRAIN_K} CTE chain, so training and
    encoding can never drift apart.
    """
    # Rebuild the same CTE chain as _bpe_train_merges, then fold each
    # round's corpus to one row.
    train_sql = _bpe_train_merges(d, w0_src)
    ctes = train_sql[train_sql.index("WITH") : train_sql.index("SELECT 1 AS merge_rank")]
    per_round = "\nUNION ALL\n".join(
        f"SELECT {r} AS after_merges, "
        f"CAST(SUM({dl.array_len(dl.split_tokens('s', d), d)} * wn) AS BIGINT) AS corpus_tokens "
        f"FROM w{r}"
        for r in range(0, BPE_TRAIN_K + 1)
    )
    return f"""
{ctes},
curve AS (
{per_round}
)
SELECT after_merges, corpus_tokens FROM curve ORDER BY after_merges
"""


def _bpe_compression_curve_spark(spark, sf_dir):
    return spark.sql(
        _bpe_compression_curve(dl.SPARK, _bpe_w0_src(spark, sf_dir))
    )


register_df(
    "bpe_compression_curve",
    _bpe_compression_curve_spark,
    oracle_body=_bpe_compression_curve(dl.DUCK),
    doc="Corpus token count after each learned BPE merge (round 0 = "
    "chars): the marginal-compression curve, measured on the actually-"
    "merged corpus via the same CTE chain as training.",
)

def _bpe_encode_docs(d: str, w0_src: str | None = None) -> str:
    """Per-DOCUMENT encoding under the trained tokenizer: re-derive the
    same {BPE_TRAIN_K} merges bpe_train_merges learns (identical w0..wK
    CTE chain — training and application can never drift), then apply
    them in rank order to each document's own word occurrences and count
    the resulting symbols. This is the token-counting pass a data-budget
    or packing pipeline runs right after training (pack_concat_split's
    sequence budget is denominated in these tokens); bpe_compression_curve
    reports the corpus total, this emits the per-doc distribution.

    Scale shape: the merges are 1-row argmax winners CROSS JOINed as
    broadcast scalars (the bpe_train_merges / kmeans-centroid pattern);
    the apply is a pure projection over the doc-word fan-out (the
    double-replace chain-merges equal-symbol runs exactly as training
    does, so counts are consistent with the curve); the count is ONE
    doc_id-keyed aggregate. Docs with no >=2-char alpha words emit zero
    counts and a NULL ratio rather than vanishing.
    """
    train_sql = _bpe_train_merges(d, w0_src)
    ctes = train_sql[
        train_sql.index("WITH") : train_sql.index("SELECT 1 AS merge_rank")
    ]
    if d == dl.SPARK:
        doc_words = (
            "SELECT doc_id, w FROM documents "
            "LATERAL VIEW explode(split(lower(text), '[^a-z]+')) t AS w "
            "WHERE length(w) >= 2"
        )
        chars = "concat_ws(' ', split(w, ''))"
    else:
        doc_words = (
            "SELECT doc_id, w FROM (SELECT doc_id, "
            "UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w "
            "FROM documents) t WHERE length(w) >= 2"
        )
        chars = "array_to_string(string_split(w, ''), ' ')"
    applied = "s0"
    for r in range(1, BPE_TRAIN_K + 1):
        applied = (
            f"replace(replace({applied},\n"
            f"               ' ' || b{r}.pair || ' ', ' ' || b{r}.merged || ' '),\n"
            f"               ' ' || b{r}.pair || ' ', ' ' || b{r}.merged || ' ')"
        )
    crosses = " ".join(
        f"CROSS JOIN best{r} b{r}" for r in range(1, BPE_TRAIN_K + 1)
    )
    n_syms = lambda col: dl.array_len(dl.split_tokens(col, d), d)  # noqa: E731
    return f"""
{ctes},
doc_words AS ({doc_words}),
enc_w AS (
    -- token counts depend only on the word STRING: evaluate the
    -- {BPE_TRAIN_K}-round replace chain once per word TYPE and join the
    -- counts back to occurrences — the same dictionary-vs-occurrences
    -- win the training path measured (round-7 review finding)
    SELECT w,
           {n_syms("s0")} AS n0,
           {n_syms(applied)} AS nk
    FROM (SELECT DISTINCT w FROM doc_words) t0
    {crosses}
    CROSS JOIN LATERAL (SELECT ' ' || {chars} || ' ' AS s0) sv
),
per_doc AS (
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n0) AS BIGINT) AS n_char_tokens,
           CAST(SUM(e.nk) AS BIGINT) AS n_bpe_tokens
    FROM doc_words d JOIN enc_w e ON d.w = e.w
    GROUP BY d.doc_id
)
SELECT doc.doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_char_tokens, 0) AS n_char_tokens,
       COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
       CASE WHEN COALESCE(p.n_bpe_tokens, 0) > 0
            THEN CAST(p.n_char_tokens AS DOUBLE)
                 / CAST(p.n_bpe_tokens AS DOUBLE) END AS compression
FROM documents doc
LEFT JOIN per_doc p ON p.doc_id = doc.doc_id
"""


def _bpe_encode_docs_spark(spark, sf_dir):
    return spark.sql(_bpe_encode_docs(dl.SPARK, _bpe_w0_src(spark, sf_dir)))


register_df(
    "bpe_encode_docs",
    _bpe_encode_docs_spark,
    oracle_body=_bpe_encode_docs(dl.DUCK),
    doc="Per-document token counts under the trained BPE merges (same "
    "CTE chain as bpe_train_merges, applied in rank order to each doc's "
    "words): char-symbol vs post-merge counts + compression ratio.",
)

