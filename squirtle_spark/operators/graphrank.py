"""Graph-ranking operators over the token co-occurrence graph: TextRank
keyword extraction (weighted PageRank, Mihalcea & Tarau 2004) and PMI
collocation mining. Beyond-parity: the reference engine has no text or
graph operators (its operator surface ends at DataFusion's relational set,
SURVEY §2.10).

Why this shape survives 100 TB:

- The ONLY corpus-scale pass is the bigram edge count — the same
  one-shuffle adjacent-pair job as ``bpe_merge_step``/``event_transitions``
  (lateral position fan-out, group by the pair). Everything downstream
  operates on the AGGREGATED graph, whose size is bounded by vocabulary²
  (in practice by distinct observed bigrams — millions, not the corpus's
  trillions of tokens).
- The PageRank iterations are joins of the vocab-sized edge list against a
  vocab-sized score table: broadcastable at any realistic vocabulary, and
  a fixed small number of them (ITERATIONS) are unrolled into one Catalyst
  plan — no driver-side loop, no collect. A full convergence loop would
  iterate the same join (the ``kmeans_lloyd``/``dedup_clusters`` pattern);
  the unrolled form is what makes the result a deterministic, DuckDB-
  replayable value.
- Cross-engine determinism: per-edge contributions are IEEE doubles
  (identical operands → identical results on both engines); the per-node
  reduction — the only order-sensitive step — accumulates through DECIMAL
  (the lm_perplexity pattern, dialect.py:dsum), so partitioning order
  can't perturb the scores.
"""

from __future__ import annotations

from .. import dialect as dl
from ..registry import register_df, register_sql

#: Damping factor from the PageRank/TextRank literature.
DAMPING = "CAST(0.85 AS DOUBLE)"
BASE = "CAST(0.15 AS DOUBLE)"
ITERATIONS = 3
TOPK = 30

#: Collocations: minimum bigram count (PMI is unstable on rare pairs).
PMI_MIN_COUNT = 5
PMI_TOPK = 30


def _pair_fanout(d: str) -> tuple[str, str, str]:
    """(lateral_clause, src_expr, dst_expr) emitting each ADJACENT token
    pair of a token-array column ``tk`` as one row (1-based positions;
    rows with < 2 tokens fan out to nothing)."""
    if d == dl.SPARK:
        return (
            "LATERAL VIEW explode(CASE WHEN array_size(tk) >= 2 "
            "THEN sequence(1, array_size(tk) - 1) ELSE array() END) g AS pos",
            "element_at(tk, pos)",
            "element_at(tk, pos + 1)",
        )
    return (
        ", unnest(CASE WHEN len(tk) >= 2 "
        "THEN generate_series(1, len(tk) - 1) ELSE [] END) AS g(pos)",
        "tk[pos]",
        "tk[pos + 1]",
    )


def _edges_sql(d: str) -> str:
    """The ONE corpus-scale pass: symmetrized adjacent-pair counts."""
    toks = dl.split_tokens("lower(text)", d)
    lateral, src, dst = _pair_fanout(d)
    return f"""
WITH tk AS (
    SELECT doc_id, {toks} AS tk FROM documents
),
pairs AS (
    SELECT {src} AS src, {dst} AS dst
    FROM tk {lateral}
),
dir_w AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
    FROM pairs WHERE src != dst
    GROUP BY src, dst
)
SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w
FROM (
    SELECT src, dst, w FROM dir_w
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM dir_w
) sym
GROUP BY src, dst"""


#: One unrolled iteration: s_{k+1}(v) = 0.15 + 0.85 · Σ_u w(u,v)/W(u)·s_k(u).
#: The symmetrized graph has no dangling nodes (every edge endpoint has
#: outgoing weight), so the plain TextRank recurrence needs no teleport
#: correction. Shared VERBATIM between the Spark iteration (selectExpr over
#: the materialized edge table) and the DuckDB oracle CTEs, so both engines
#: evaluate identical double arithmetic (the per-node reduction runs
#: through DECIMAL — dialect.py:dsum — making it order-independent).
_CONTRIB = "score * CAST(w AS DOUBLE) / wdeg"


def _textrank_spark(spark, sf_dir):
    """Spark side: the aggregated co-occurrence graph is a SESSION
    matview (r13; previously a per-query localCheckpoint — correct plan
    shape, but the corpus pass re-ran on every invocation): the one
    corpus-scale job runs once per (session, table), and the vocab²-
    bounded graph is what repeated rankings read — the same
    build-at-ingest lifecycle the ANN index family runs. Without any
    materialization Catalyst inlines the edges CTE into every iteration
    and re-scans the corpus 14 times (measured) — the exact plan shape
    this rewrite forbids.
    """
    from pyspark.sql import functions as F

    from .. import catalog

    edges_v = catalog.session_matview(
        spark, "textrank_edges", sf_dir, _edges_sql(dl.SPARK)
    )
    # the degree-annotated edge list is as (session, table)-stable as the
    # graph itself — materializing it per QUERY (the old per-call
    # localCheckpoint) billed an eager join+write job to every ranking
    # (r15; guide §1.2 step 2: per-invocation work out of the timed path)
    ew = spark.table(
        catalog.session_matview(
            spark,
            "textrank_ew",
            sf_dir,
            f"SELECT e.src, e.dst, e.w, d.wdeg FROM {edges_v} e JOIN ("
            f"SELECT src, CAST(SUM(w) AS DOUBLE) AS wdeg FROM {edges_v} "
            f"GROUP BY src) d USING (src)",
        )
    )
    scores = (
        ew.groupBy("src")
        .agg(F.expr("CAST(1.0 AS DOUBLE)").alias("score"))
        .select(F.col("src").alias("tok"), "score")
    )
    agg = f"{BASE} + {DAMPING} * " + dl.dsum(_CONTRIB, dl.SPARK, "DECIMAL(28,12)")
    for _ in range(ITERATIONS):
        scores = (
            ew.join(scores, ew["src"] == scores["tok"])
            .groupBy("dst")
            .agg(F.expr(agg).alias("score"))
            .select(F.col("dst").alias("tok"), "score")
        )
    return (
        scores.select("tok", F.expr("ROUND(score, 6)").alias("textrank"))
        .orderBy(F.desc("textrank"), "tok")
        .limit(TOPK)
    )


def _textrank_oracle() -> str:
    d = dl.DUCK

    def step(prev: str, cur: str) -> str:
        contrib = "s.score * CAST(e.w AS DOUBLE) / deg.wdeg"
        return f"""{cur} AS (
    SELECT e.dst AS tok,
           {BASE} + {DAMPING} * {dl.dsum(contrib, d, "DECIMAL(28,12)")} AS score
    FROM edges e
    JOIN {prev} s ON e.src = s.tok
    JOIN wdeg deg ON e.src = deg.src
    GROUP BY e.dst
)"""

    steps = ",\n".join(step(f"s{i}", f"s{i + 1}") for i in range(ITERATIONS))
    return f"""
WITH edges AS ({_edges_sql(d)}),
wdeg AS (
    SELECT src, CAST(SUM(w) AS DOUBLE) AS wdeg FROM edges GROUP BY src
),
s0 AS (
    SELECT src AS tok, CAST(1.0 AS DOUBLE) AS score FROM wdeg
),
{steps}
SELECT tok, ROUND(score, 6) AS textrank
FROM s{ITERATIONS}
ORDER BY ROUND(score, 6) DESC, tok
LIMIT {TOPK}
"""


register_df(
    "textrank_keywords",
    _textrank_spark,
    oracle_body=_textrank_oracle(),
    doc="TextRank keyword extraction: weighted PageRank over the adjacent-"
    "token co-occurrence graph, 3 unrolled iterations; ONE corpus-scale "
    "pair-count pass materialized, then vocab-sized joins.",
    bench=True,
)


def _collocation_pmi(d: str) -> str:
    """Top bigrams by PMI. The inlined ``tk`` CTE re-derives the token
    arrays for the pair and unigram passes (~4 corpus scans total here);
    that is the repo's documented local-scale trade (SCALING.md: recompute
    beats materializing for cheap relations) — at 100 TB the two
    aggregated tables (big, uni) get checkpointed exactly like TextRank's
    edge table and the corpus is scanned twice (pairs + unigrams, the
    semantic minimum)."""
    toks = dl.split_tokens("lower(text)", d)
    lateral, src, dst = _pair_fanout(d)
    # PMI = ln(P(a,b) / (P(a)P(b))). The log argument is assembled as ONE
    # fixed-shape double expression over exact integer counts, so both
    # engines evaluate LN on bit-identical input.
    pmi = (
        "LN((CAST(b.c_ab AS DOUBLE) * CAST(t.n_tok AS DOUBLE) * CAST(t.n_tok AS DOUBLE))"
        " / (CAST(t.n_pairs AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)))"
    )
    return f"""
WITH tk AS (
    SELECT doc_id, {toks} AS tk FROM documents
),
pairs AS (
    SELECT {src} AS w1, {dst} AS w2
    FROM tk {lateral}
),
big AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
    FROM pairs GROUP BY w1, w2
),
uni AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT {dl.unnest_fn(d)}(tk) AS tok FROM tk) x
    GROUP BY tok
),
tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_tok,
           (SELECT CAST(SUM(c_ab) AS BIGINT) FROM big) AS n_pairs
    FROM uni
)
SELECT b.w1, b.w2, b.c_ab,
       ROUND({pmi}, 6) AS pmi
FROM big b
JOIN uni ua ON b.w1 = ua.tok
JOIN uni ub ON b.w2 = ub.tok
CROSS JOIN tot t
WHERE b.c_ab >= {PMI_MIN_COUNT}
ORDER BY ROUND({pmi}, 6) DESC, b.w1, b.w2
LIMIT {PMI_TOPK}
"""


register_sql(
    "collocation_pmi",
    _collocation_pmi,
    doc="Collocation mining: top adjacent-token pairs by pointwise mutual "
    "information (count-floored); the vocab/tokenizer-building companion "
    "to bpe_merge_step's frequency view.",
)
