"""Deduplication operators over the ``documents`` table.

Three tiers, all shuffle-bounded (never all-pairs):

- **exact**: hash-key dedup — group on a content fingerprint, keep the
  smallest doc_id (deterministic, unlike ``dropDuplicates`` which keeps an
  arbitrary row per key).
- **MinHash-LSH**: word-shingle → 32 minhashes (one grouped aggregation —
  no 32× explode; kept at 32 because wider agg rows cost ~20-30s of one-time
  codegen per JVM) → 8 bands × 4 rows (candidate threshold ≈ 0.59 Jaccard)
  → bucket self-join → exact-Jaccard verification on the candidates only.
  Candidate generation is banded, so the join is |bucket|², never |corpus|²
  — the property that keeps this runnable at 100 TB.
- **SimHash**: 32-bit signature from token-hash bit votes; candidates from
  4×8-bit band buckets; Hamming-distance verification via bit_count(xor).

All hashing is JVM-side SQL (no Python in any hot path) and md5-derived so
every pipeline — including the fuzzy ones — replays bit-identically in the
DuckDB oracle (dialect.md5_i64). The permutation family is universal
hashing (a_i·x + b_i mod p) over ONE base hash per shingle, so widening to
more permutations costs integer ops, not extra hashing; swap the base hash
to xxhash64 for production runs where oracle replay isn't needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import dialect as dl
from ..registry import register_df, register_sql

N_MINHASH = 32
N_BANDS = 8  # 8 bands × 4 rows/band; candidate threshold ≈ (1/8)^(1/4) ≈ 0.59
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_W = 3  # word 3-grams

SIMHASH_BITS = 32  # stays well within positive BIGINT; 32 bit-vote aggs
SIMHASH_BANDS = 4  # 4 × 8-bit chunks
HAMMING_MAX = 4

#: Minimum exact Jaccard for a pair to count as a NEAR-duplicate anywhere
#: in the family — dedup_ngram_jaccard (the exact ground truth),
#: dedup_minhash_lsh's verified pair list, and pipeline.split_leakage_audit
#: all filter on this same floor, so "a pair leaks iff the LSH entry
#: reports it" stays true by construction when the floor is tuned.
#: Distinct from LSH_DUP_THRESHOLD (the confident-duplicate verdict line).
NEARDUP_JACCARD_FLOOR = 0.2


def _dedup_exact(d: str) -> str:
    return """
SELECT doc_id, content_fp
FROM (
    SELECT doc_id,
           md5(lower(trim(text))) AS content_fp,
           ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
"""


register_sql(
    "dedup_exact",
    _dedup_exact,
    doc="Exact dedup: content-hash groups, deterministic survivor (min doc_id).",
    bench=True,
)


def _ngram_jaccard(d: str, sh_src: str | None = None) -> str:
    """Exact word-3-gram Jaccard near-dup pairs, dialect-shared SQL.

    This is the exact ground truth the MinHash-LSH pipeline approximates —
    and unlike the xxhash64-based entries it renders in DuckDB, so the
    driver gets a VALUE-LEVEL check on the near-dup family (same
    NEARDUP_JACCARD_FLOOR as the LSH verify stage). jaccard is a single IEEE division
    of two integers — bitwise identical across engines, no rounding needed.

    Scale: the only joins are shingle equi-joins (narrow rows) + a grouped
    count — the sort-merge/hash distribution of set intersection. Hot
    (stopword-heavy) shingles are the skew risk at 100 TB; AQE skew-join
    splits them (session.py), and the LSH variant is the cheap path anyway.
    """
    import textwrap

    from .curation import shingle_rows

    if sh_src is None:
        sh_src = shingle_rows(d, "TRUE", SHINGLE_W)
    return textwrap.dedent(f"""
        WITH sh_rows AS ({sh_src}),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh_rows GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh_rows a
            JOIN sh_rows b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, jaccard
        FROM (
            SELECT doc_a, doc_b,
                   CAST(n_inter AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        ) j
        WHERE jaccard >= {NEARDUP_JACCARD_FLOOR}
        """)


def _ngram_jaccard_spark(spark, sf_dir) -> DataFrame:
    """Spark side over the session-materialized w={SHINGLE_W} shingle
    relation (the same mh_sh view the LSH family cuts from): sh_rows is
    referenced by the size pass and both sides of the intersection
    self-join, so the inline form re-tokenized the corpus 3x."""
    sh_v, _, _ = _mh_pipeline_views(spark, sf_dir)
    return spark.sql(
        _ngram_jaccard(
            dl.SPARK, sh_src=f"SELECT doc_id, shingle FROM {sh_v}"
        )
    )


register_df(
    "dedup_ngram_jaccard",
    _ngram_jaccard_spark,
    oracle_body=_ngram_jaccard(dl.DUCK),
    doc="Exact n-gram Jaccard near-dup pairs (value-level oracle for the LSH path).",
)


def _dedup_clusters(spark, sf_dir) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the exact
    n-gram-Jaccard pair graph, labels = min doc_id per component — the
    step a real dedup pipeline runs after pair-finding (keep one canonical
    doc per cluster).

    Spark 4's recursive CTE allows only UNION ALL (no cycle-safe
    distinct), so unbounded closure over a cyclic edge set cannot
    terminate there — full components keep the idiomatic scale
    algorithm, iterative min-label propagation (GraphFrames'/
    large-scale-CC style; bounded-hop closure uses the native recursion,
    see neardup_transitive_pairs): every
    iteration each node takes the min label among itself and its
    neighbors — two bounded shuffles per iteration, converging in
    O(component diameter) rounds (a component's min label advances at
    least one hop per round; the max_rounds cap below is therefore
    validated, not trusted). The driver-side loop is control flow only
    (one tiny count per round); all data movement stays distributed.
    DuckDB's recursive CTE is the oracle.
    """
    sh_v, _, _ = _mh_pipeline_views(spark, sf_dir)
    pairs = spark.sql(
        _ngram_jaccard(dl.SPARK, sh_src=f"SELECT doc_id, shingle FROM {sh_v}")
    ).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # Plain min-label propagation advances a component's min label at least
    # one hop per round, so worst case is O(component DIAMETER) rounds, not
    # O(log diameter) — the cap must be validated, never trusted.
    max_rounds = 256
    converged = False
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges["doc_b"] == labels["node"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["doc_a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            # Truncate lineage each round: without this, every `changed`
            # count re-executes the whole 2-joins-per-iteration history
            # (quadratic recompute, unbounded plan depth).
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: min-label propagation not converged after "
            f"{max_rounds} rounds (component diameter exceeds the cap)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _clusters_ctes(d: str = dl.DUCK) -> str:
    """``WITH RECURSIVE`` prefix ending in a ``clusters(doc_id,
    cluster_id)`` CTE — shared by the dedup_clusters oracle and the
    cluster-keyed split (pipeline.split_by_cluster)."""
    return f"""
WITH RECURSIVE pairs AS (
    {_ngram_jaccard(d)}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a
),
clusters AS (
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach
    GROUP BY node
)"""


def _clusters_oracle(d: str = dl.DUCK) -> str:
    return _clusters_ctes(d) + "\nSELECT doc_id, cluster_id FROM clusters"


register_df(
    "dedup_clusters",
    _dedup_clusters,
    oracle_body=_clusters_oracle(),
    doc="Near-dup connected components (min-label propagation vs recursive-CTE oracle).",
)


def _perm_consts() -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a, b) per permutation.

    a < 2^30 and x < 2^32 keep a*x + b under 2^62 — overflow-free signed
    64-bit arithmetic in BOTH engines (verified identical results).
    """
    import random

    rng = random.Random(2024)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(N_MINHASH)
    ]


MH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_hashed_body(rel: str, d: str) -> str:
    """Stage: shingle rows → one 60-bit base hash per (doc, shingle)."""
    base = dl.md5_i64("'mh|' || shingle", d)
    return f"SELECT doc_id, ({base}) & 4294967295 AS x FROM {rel}"


def _mh_sig_body(rel: str, d: str) -> str:
    """Stage: hashed rows → per-doc signature (n_sh + 32 minhashes)."""
    perms = _perm_consts()
    mh_cols = ",\n      ".join(
        f"MIN(({a} * x + {b}) % {MH_PRIME}) AS mh{i}" for i, (a, b) in enumerate(perms)
    )
    return f"SELECT doc_id, COUNT(*) AS n_sh,\n      {mh_cols}\n    FROM {rel} GROUP BY doc_id"


def _mh_bands_body(rel: str, d: str) -> str:
    """Stage: signatures → 8×4 banded bucket keys."""
    band_cases = "\n        ".join(
        "WHEN {b} THEN {h}".format(
            b=b,
            h=dl.md5_i64(
                "concat_ws('|', "
                + ", ".join(
                    f"CAST(mh{b * ROWS_PER_BAND + r} AS STRING)"
                    for r in range(ROWS_PER_BAND)
                )
                + ")",
                d,
            ),
        )
        for b in range(N_BANDS)
    )
    return (
        f"SELECT doc_id, band, CASE band\n        {band_cases}\n      END AS band_hash "
        f"FROM {rel} {dl.lateral_series(N_BANDS, 'band', d)}"
    )


def _mh_pipeline_ctes(d: str) -> str:
    """Shared CTE chain ``sh``/``hashed``/``sig``/``bands``: word shingles →
    one 60-bit base hash per shingle → 32 minhash permutations in a single
    grouped aggregation → 8×4 banded bucket keys. Composed from the
    per-stage bodies above, which the persisted-index build
    (build_minhash_band_index) also runs STAGE-WISE — each stage reading
    the previous stage's materialized output, so the index build computes
    the pipeline once, not once per part. Used by the corpus-wide
    self-join (dedup_minhash_lsh) and the batch-vs-index probe
    (dedup_incremental_minhash); identical text keeps the entries'
    signatures — and their oracles — bit-identical."""
    import textwrap

    from .curation import shingle_rows

    return textwrap.dedent(f"""
        sh AS ({shingle_rows(d, "TRUE", SHINGLE_W)}),
        hashed AS ({_mh_hashed_body("sh", d)}),
        sig AS ({_mh_sig_body("hashed", d)}),
        bands AS ({_mh_bands_body("sig", d)})""")


def _mh_pipeline_views(spark, sf_dir: str) -> tuple[str, str, str]:
    """(sh, sig, bands) temp-view names over the eagerly-materialized
    MinHash pipeline for this (session, sf_dir) — built once via the
    shared catalog.session_matview cache, reused by every later
    fuzzy-dedup query in the session. Spark INLINES multi-referenced
    CTEs, so the self-contained SQL forms were re-executing the
    shingle → minhash pipeline once per reference (the incremental
    probe's physical plan showed 13 separate corpus scans and 17
    explode nodes — a ~6x redundant corpus read at 100 TB, the same
    defect class as r8's dsir_select fix). The stage-wise build mirrors
    build_minhash_band_index exactly (each stage reads the previous
    stage's materialized output), so this IS the deployment shape the
    persisted-index docstrings describe, held on the session's block
    manager instead of parquet."""
    from .. import catalog
    from .curation import shingle_rows

    d = dl.SPARK
    sh = catalog.session_matview(
        spark, "mh_sh", sf_dir, shingle_rows(d, "TRUE", SHINGLE_W)
    )
    sig = catalog.session_matview(
        spark,
        "mh_sig",
        sf_dir,
        f"WITH hashed AS ({_mh_hashed_body(sh, d)})\n{_mh_sig_body('hashed', d)}",
    )
    bands = catalog.session_matview(
        spark, "mh_bands", sf_dir, _mh_bands_body(sig, d)
    )
    return sh, sig, bands


def mh_alias_ctes(spark, sf_dir: str) -> str:
    """CTE aliases binding the canonical ``sh``/``sig``/``bands`` names
    to the session-materialized views, so the probe/verify SQL text that
    the oracles also run stays byte-identical — multi-references now
    inline to a checkpointed-table scan, not a pipeline recompute."""
    sh_v, sig_v, bands_v = _mh_pipeline_views(spark, sf_dir)
    return (
        f"sh AS (SELECT * FROM {sh_v}),\n"
        f"sig AS (SELECT * FROM {sig_v}),\n"
        f"bands AS (SELECT * FROM {bands_v})"
    )


def verified_pairs_ctes() -> str:
    """The LSH candidate→exact-verify core as CTEs appended after
    :func:`_mh_pipeline_ctes`: banded-bucket self-join candidates
    (``a.doc_id < b.doc_id``, so each unordered pair appears once) and
    exact-Jaccard verification via shingle equi-joins, ending in a
    ``pairs(doc_a, doc_b, jac)`` relation with the UNROUNDED Jaccard —
    consumers threshold/round it themselves (dedup_minhash_lsh's pair
    list, pipeline.split_leakage_audit's cross-split filter). Dialect-free:
    every expression here is shared SQL."""
    return """cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, n_sh FROM sig),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        pairs AS (
            SELECT i.doc_a, i.doc_b,
                   CAST(n_inter AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n_inter) AS jac
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )"""


def _minhash_lsh(d: str) -> str:
    """MinHash-LSH near-dup pairs, dialect-shared SQL (full value oracle).

    Pipeline (flock has no fuzzy dedup — beyond-parity, the Flink/Spark
    corpus-dedup design): word-3-gram shingles → ONE 60-bit md5 base hash
    per shingle → 32 minhash permutations as (a_i*x + b_i) mod p in a
    single grouped aggregation (integer ops, no 32× hashing) → 8 bands ×
    4 rows banded into bucket keys (candidate threshold ≈ (1/8)^(1/4) ≈
    0.59 Jaccard) → bucket self-join → exact-Jaccard verify on candidates
    only via shingle equi-joins. Never all-pairs: the join is |bucket|²,
    the property that keeps this runnable at 100 TB. All hashes are
    md5-based so DuckDB replays the pipeline bit-identically (the
    xxhash64 variant is a drop-in when oracle replay isn't needed — same
    plan, cheaper hash). This function renders the SELF-CONTAINED form —
    the DuckDB oracle (which materializes multi-referenced CTEs) and any
    single-shot caller; the registered Spark side
    (_minhash_lsh_spark) cuts the same text from the session-
    materialized sh/sig/bands views instead, because Spark INLINES
    multi-referenced CTEs and would re-run the pipeline per reference.

    Scope note: shingle_rows emits only full-width word 3-grams, so
    documents shorter than SHINGLE_W words produce no shingles and are
    EXCLUDED from fuzzy dedup (identical short docs are still caught by
    dedup_exact). Both engines share the CTE, so the oracle sees the
    same population.
    """
    import textwrap

    return textwrap.dedent(f"""
        WITH {_mh_pipeline_ctes(d)},
        {verified_pairs_ctes()}
        SELECT doc_a, doc_b, round(jac, 4) AS jaccard
        FROM pairs
        WHERE jac >= {NEARDUP_JACCARD_FLOOR}
        """)


def _minhash_lsh_spark(spark, sf_dir) -> DataFrame:
    """Spark side of dedup_minhash_lsh over the session-materialized
    pipeline (_mh_pipeline_views): the candidate/verify text is the
    SAME the oracle runs, but `sh`/`sig`/`bands` alias checkpointed
    views, so the shingle → minhash pipeline executes once instead of
    once per CTE reference (Spark inlines multi-referenced CTEs)."""
    import textwrap

    return spark.sql(
        textwrap.dedent(f"""
        WITH {mh_alias_ctes(spark, sf_dir)},
        {verified_pairs_ctes()}
        SELECT doc_a, doc_b, round(jac, 4) AS jaccard
        FROM pairs
        WHERE jac >= {NEARDUP_JACCARD_FLOOR}
        """)
    )


register_df(
    "dedup_minhash_lsh",
    _minhash_lsh_spark,
    oracle_body=_minhash_lsh(dl.DUCK),
    doc="MinHash-LSH near-dup pairs: banded buckets → candidate join → exact-Jaccard verify.",
    bench=True,
)


#: A probed batch doc is a dup when its best exact-Jaccard against the
#: corpus reaches this. Must sit ABOVE the 8×4 banding's ~0.59 candidate
#: knee: for pairs past the knee the bands surface the candidate with
#: high probability and exact verification decides; a threshold below it
#: (0.5 originally — round-6 review finding) would make the BANDS the
#: deciding factor in [threshold, knee), where a true dup reaches
#: candidacy only ~40-60% of the time.
LSH_DUP_THRESHOLD = 0.6


def _probe_core_sql(
    *, bands_b: str, bands_c: str, sh_b: str, sh_c: str, sig_b: str, sig_c: str
) -> str:
    """Probe-side CTEs + final SELECT, parameterized on the six relation
    names so the SAME text runs against (a) mod-split CTEs in the
    self-contained registered entry / DuckDB oracle and (b) a PERSISTED
    parquet band index (build_minhash_band_index) — the test proves both
    paths return identical verdicts, so the oracle vouches for the
    deployment shape too."""
    import textwrap

    return textwrap.dedent(f"""
        cand AS (
            SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
            FROM {bands_b} b
            JOIN {bands_c} c
              ON b.band = c.band AND b.band_hash = c.band_hash
        ),
        inter AS (
            SELECT c.batch_id, c.corpus_id, COUNT(*) AS n_inter
            FROM cand c
            JOIN {sh_b} sa ON sa.doc_id = c.batch_id
            JOIN {sh_c} sb ON sb.doc_id = c.corpus_id AND sb.shingle = sa.shingle
            GROUP BY c.batch_id, c.corpus_id
        ),
        jac AS (
            SELECT i.batch_id, i.corpus_id,
                   CAST(n_inter AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n_inter) AS j
            FROM inter i
            JOIN {sig_b} sa ON sa.doc_id = i.batch_id
            JOIN {sig_c} sb ON sb.doc_id = i.corpus_id
        ),
        best AS (
            -- argmax by ONE keyed window instead of the agg + j = best_j
            -- re-join (r15 opt): Spark inlines multi-referenced CTEs, so
            -- the join form executed the whole cand->inter->jac pipeline
            -- TWICE (plans/r15/dedup_incremental_minhash_before.txt,
            -- SortMergeJoin (82) over two identical 40-node subtrees).
            -- ROW_NUMBER ordered (j DESC, corpus_id ASC) picks exactly
            -- the old MIN(corpus_id)-at-MAX(j) row, and the partition
            -- COUNT(*) is the old per-batch candidate count; one
            -- Exchange on batch_id replaces agg + join + re-group.
            SELECT batch_id, n_candidates, best_j,
                   corpus_id AS best_corpus_doc
            FROM (
                SELECT batch_id, corpus_id, j AS best_j,
                       CAST(COUNT(*) OVER (PARTITION BY batch_id) AS BIGINT)
                           AS n_candidates,
                       ROW_NUMBER() OVER (
                           PARTITION BY batch_id
                           ORDER BY j DESC, corpus_id ASC) AS rn
                FROM jac
            ) r WHERE rn = 1
        )
        SELECT s.doc_id,
               COALESCE(b.n_candidates, 0) AS n_candidates,
               b.best_corpus_doc,
               ROUND(COALESCE(b.best_j, 0.0), 4) AS best_jaccard,
               CASE WHEN COALESCE(b.best_j, 0.0) >= {LSH_DUP_THRESHOLD}
                    THEN 'dup_of_corpus' ELSE 'accepted' END AS status
        FROM (SELECT doc_id FROM {sig_b}) s
        LEFT JOIN best b ON b.batch_id = s.doc_id
        """)


def _dedup_incremental_minhash(d: str) -> str:
    """Fuzzy incremental dedup: a NEW batch probed against the EXISTING
    corpus's MinHash-LSH band index (the near-dup twin of
    dedup_incremental's exact-containment check — weekly crawls land
    against last week's signature index without ever re-pairing the
    corpus against itself). Every 4th doc stands in for the new batch
    (dedup_incremental's convention), the rest are the corpus.

    The candidate join is batch-bands × corpus-bands on (band,
    band_hash) — never batch×corpus — then exact-Jaccard verification on
    candidates only, via shingle equi-joins. Output is one row per batch
    doc that produced shingles: candidate count, best corpus match
    (highest verified Jaccard, min doc_id tie-break) and the
    accept/reject status.

    Deployment shape at 100 TB: the corpus's ``bands`` rows are a
    PERSISTED index table bucketed on (band, band_hash) — written once,
    appended as batches are accepted (tests/test_curation.py
    materializes it to parquet and proves the probe path returns the
    identical verdicts). Per-batch cost is then |batch| signature
    builds + an equi-join that touches only matched buckets; this
    registered entry recomputes both sides from the base table because
    the DuckDB oracle must replay the whole pipeline self-contained.
    Short-doc scope note as dedup_minhash_lsh: docs under SHINGLE_W
    words have no signature and fall to dedup_exact / dedup_incremental.
    """
    import textwrap

    from .curation import BATCH_MOD

    split = "\n".join(
        f"{part}_{side} AS (SELECT * FROM {part} "
        f"WHERE doc_id % {BATCH_MOD} {op} 0),"
        for part in ("bands", "sh", "sig")
        for side, op in (("b", "="), ("c", "<>"))
    )
    return textwrap.dedent(f"""
        WITH {_mh_pipeline_ctes(d)},
        {split}
        {_probe_core_sql(bands_b="bands_b", bands_c="bands_c",
                         sh_b="sh_b", sh_c="sh_c",
                         sig_b="sig_b", sig_c="sig_c")}
        """)


def _dedup_incremental_minhash_spark(spark, sf_dir) -> DataFrame:
    """Spark side of dedup_incremental_minhash over the session-
    materialized pipeline: the batch/corpus split and the probe text are
    byte-identical to the oracle's, but cut from checkpointed
    `sh`/`sig`/`bands` views — before this the probe's physical plan
    re-executed the shingle → minhash pipeline per reference (13 corpus
    scans, 17 explodes), a ~6x redundant read at 100 TB."""
    import textwrap

    from .curation import BATCH_MOD

    split = "\n".join(
        f"{part}_{side} AS (SELECT * FROM {part} "
        f"WHERE doc_id % {BATCH_MOD} {op} 0),"
        for part in ("bands", "sh", "sig")
        for side, op in (("b", "="), ("c", "<>"))
    )
    return spark.sql(
        textwrap.dedent(f"""
        WITH {mh_alias_ctes(spark, sf_dir)},
        {split}
        {_probe_core_sql(bands_b="bands_b", bands_c="bands_c",
                         sh_b="sh_b", sh_c="sh_c",
                         sig_b="sig_b", sig_c="sig_c")}
        """)
    )


register_df(
    "dedup_incremental_minhash",
    _dedup_incremental_minhash_spark,
    oracle_body=_dedup_incremental_minhash(dl.DUCK),
    doc="New batch probed against the corpus MinHash band index: bucket "
    "equi-join candidates, exact-Jaccard verify, accept/reject verdicts.",
    bench=True,
)


def mh_shared_oracle(d: str = dl.DUCK) -> tuple[list[str], dict[str, str]]:
    """(setup, {name: query}) — the MinHash pipeline as CREATE TEMP TABLE
    statements built ONCE, plus each registered minhash entry's remainder
    query over those tables: the sf1 soak's shared-lifecycle oracle form
    (the PQ move of VERDICT r9 item 8, extended to the minhash family in
    r11 — the two self-contained oracles re-ran the identical shingle →
    signature → band pipeline, ~28 s of the soak's DuckDB side).

    Fragment-identical to the registered oracles by construction: the
    temp tables are the same stage bodies `_mh_pipeline_ctes` composes,
    under the same ``sh``/``sig``/``bands`` names the remainder texts
    reference. Value-equality is pinned by tests/test_dedup.py::
    test_mh_shared_oracle_equals_registered."""
    import textwrap

    from .curation import BATCH_MOD, shingle_rows

    setup = [
        "CREATE OR REPLACE TEMP TABLE sh AS "
        + shingle_rows(d, "TRUE", SHINGLE_W),
        "CREATE OR REPLACE TEMP TABLE sig AS "
        + _mh_sig_body(f"({_mh_hashed_body('sh', d)}) _h", d),
        "CREATE OR REPLACE TEMP TABLE bands AS " + _mh_bands_body("sig", d),
    ]
    lsh = textwrap.dedent(f"""
        WITH {verified_pairs_ctes()}
        SELECT doc_a, doc_b, round(jac, 4) AS jaccard
        FROM pairs
        WHERE jac >= {NEARDUP_JACCARD_FLOOR}
        """)
    split = "\n".join(
        f"{part}_{side} AS (SELECT * FROM {part} "
        f"WHERE doc_id % {BATCH_MOD} {op} 0),"
        for part in ("bands", "sh", "sig")
        for side, op in (("b", "="), ("c", "<>"))
    )
    incr = textwrap.dedent(f"""
        WITH {split}
        {_probe_core_sql(bands_b="bands_b", bands_c="bands_c",
                         sh_b="sh_b", sh_c="sh_c",
                         sig_b="sig_b", sig_c="sig_c")}
        """)
    return setup, {
        "dedup_minhash_lsh": lsh,
        "dedup_incremental_minhash": incr,
    }


#: Persisted band-index layout: one parquet dataset per pipeline stage.
_INDEX_PARTS = ("bands", "sh", "sig")


def build_minhash_band_index(spark, sf_dir: str, path: str) -> None:
    """Materialize the CORPUS side of the MinHash-LSH pipeline (bands +
    shingles + signatures for non-batch docs) to parquet at ``path`` —
    the persisted index dedup_incremental_minhash's docstring describes.
    Built STAGE-WISE: shingles scan the corpus once, signatures compute
    FROM the materialized shingles, bands FROM the materialized
    signatures — the "checkpoint the shingle CTE once" deployment the
    docstrings promise, so the build pays the tokenize+hash cost once,
    not once per part (a 3x recompute before the round-6 review). At
    100 TB `bands` would be written bucketed on (band, band_hash) so
    probe joins shuffle only the batch side; local parquet keeps the
    test hermetic while exercising the identical probe SQL."""
    import textwrap

    from .curation import BATCH_MOD, shingle_rows

    from .. import catalog

    d = dl.SPARK
    catalog.register_all(spark, sf_dir)
    spark.sql(
        textwrap.dedent(f"""
            WITH sh AS ({shingle_rows(d, f"doc_id % {BATCH_MOD} <> 0", SHINGLE_W)})
            SELECT * FROM sh
        """)
    ).write.mode("overwrite").parquet(f"{path}/sh")
    spark.read.parquet(f"{path}/sh").createOrReplaceTempView("_mh_build_sh")
    spark.sql(
        f"WITH hashed AS ({_mh_hashed_body('_mh_build_sh', d)}) "
        f"{_mh_sig_body('hashed', d)}"
    ).write.mode("overwrite").parquet(f"{path}/sig")
    spark.read.parquet(f"{path}/sig").createOrReplaceTempView("_mh_build_sig")
    spark.sql(_mh_bands_body("_mh_build_sig", d)).write.mode("overwrite").parquet(
        f"{path}/bands"
    )


def probe_minhash_band_index(spark, sf_dir: str, path: str) -> DataFrame:
    """Probe a NEW batch (doc_id % BATCH_MOD = 0) against the PERSISTED
    corpus index at ``path``: batch signatures are computed fresh, the
    corpus side is read back from parquet, and the shared
    ``_probe_core_sql`` text produces the verdicts — provably the same
    logic the oracle-checked registered entry runs."""
    import textwrap

    from .curation import BATCH_MOD

    from .. import catalog

    catalog.register_all(spark, sf_dir)
    for part in _INDEX_PARTS:
        spark.read.parquet(f"{path}/{part}").createOrReplaceTempView(f"idx_{part}")
    batch = "\n".join(
        f"{part}_b AS (SELECT * FROM {part} "
        f"WHERE doc_id % {BATCH_MOD} = 0),"
        for part in _INDEX_PARTS
    )
    return spark.sql(
        textwrap.dedent(f"""
            WITH {_mh_pipeline_ctes(dl.SPARK)},
            {batch}
            {_probe_core_sql(bands_b="bands_b", bands_c="idx_bands",
                             sh_b="sh_b", sh_c="idx_sh",
                             sig_b="sig_b", sig_c="idx_sig")}
            """)
    )


def _simhash(d: str) -> str:
    """SimHash near-dup pairs, dialect-shared SQL (full value oracle).

    One md5-based 32-bit hash per token OCCURRENCE (frequency-weighted
    bit votes, the canonical simhash); 32 bit-vote sums in one grouped
    aggregation; signature assembled from vote signs; candidates from
    4 × 8-bit band buckets (any pair within Hamming distance 3 shares at
    least one intact band — pigeonhole); Hamming verify via
    bit_count(xor). Bucketed, never all-pairs.
    """
    import textwrap

    toks = dl.split_tokens("lower(trim(text))", d)
    un = dl.unnest_fn(d)
    h = dl.md5_i64("'sh|' || tok", d)
    vote_cols = ",\n      ".join(
        f"SUM(CASE WHEN ({dl.shiftr('h', str(k), d)}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(SIMHASH_BITS)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    chunk_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << chunk_bits) - 1
    chunk = f"({dl.shiftr('simhash', f'band * {chunk_bits}', d)}) & {mask}"
    hamming = f"CAST(bit_count({dl.bxor('sh_a', 'sh_b', d)}) AS INT)"
    return textwrap.dedent(f"""
        WITH toks AS (
            SELECT doc_id, {un}(tk) AS tok
            FROM (SELECT doc_id, {toks} AS tk FROM documents) t
        ),
        th AS (
            SELECT doc_id, ({h}) & 4294967295 AS h FROM toks
        ),
        votes AS (
            SELECT doc_id,
              {vote_cols}
            FROM th GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash FROM votes
        ),
        bands AS (
            SELECT doc_id, simhash, band, {chunk} AS chunk
            FROM sig {dl.lateral_series(SIMHASH_BANDS, "band", d)}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM bands a
            JOIN bands b
              ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, {hamming} AS hamming
        FROM cand
        WHERE {hamming} <= {HAMMING_MAX}
        """)


register_sql(
    "dedup_simhash",
    _simhash,
    doc="SimHash near-dup pairs: bit-vote signatures, banded buckets, Hamming verify.",
)


def _dedup_survivorship(spark, sf_dir) -> DataFrame:
    """The final dedup decision: one canonical survivor per near-dup
    cluster, by the classic survivorship rule 'keep the longest document'
    (ties to the smallest doc_id). Composes the connected-components
    clusters with a per-doc quality proxy — the step that turns pair/
    cluster discovery into an actual keep/drop list. One broadcast-sized
    join (clusters are tiny relative to the corpus) + a per-cluster
    ROW_NUMBER; the corpus itself is never shuffled.
    """
    clusters = _dedup_clusters(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", F.length("text").alias("n_len"))
    return (
        clusters.join(docs, "doc_id")
        .withColumn(
            "rn",
            F.expr(
                "ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_len DESC, doc_id ASC)"
            ),
        )
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.count("*").alias("n_members"),
        )
    )


def _survivorship_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    {_ngram_jaccard(dl.DUCK)}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a
),
clusters AS (
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
),
ranked AS (
    SELECT c.cluster_id, c.doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY length(d.text) DESC, c.doc_id ASC) AS rn
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM ranked
GROUP BY cluster_id
"""


register_df(
    "dedup_survivorship",
    _dedup_survivorship,
    oracle_body=_survivorship_oracle(),
    doc="Canonical survivor per near-dup cluster (longest doc, ties to min "
    "id) — the keep/drop decision after clustering.",
)


SPAN_W = 5  # word 5-grams: long enough to be a "span", short enough to fire on fixtures


def span_base_ctes(d: str, where: str = "TRUE") -> str:
    """The tk/pos_sh CTE prologue every duplicate-span operator builds
    on — one hand-maintained tokenization (the verified_pairs_ctes
    convention for the LSH family).

    Emits: ``tk`` with the lowercase token array ``tk`` (matching keys),
    the original-case token array ``tko`` and ``text_orig`` (reassembly /
    passthrough — lower() never changes whitespace, so positions in
    ``tk`` and ``tko`` align 1:1); and the positional word {SPAN_W}-gram
    fan-out ``pos_sh``. ``where`` narrows the scanned documents — the
    persisted-index build/probe pair tokenizes only its own side."""
    toks = dl.split_tokens("lower(trim(text))", d)
    toks_orig = dl.split_tokens("text", d)
    fanout, one = dl.pos_shingle_fanout(SPAN_W, d)
    return f"""tk AS (
    SELECT doc_id, {toks} AS tk, {toks_orig} AS tko,
           TRIM(text) AS text_orig
    FROM documents
    WHERE {where}
),
pos_sh AS (
    SELECT doc_id, pos, {one} AS sh
    FROM tk
    {fanout}
)"""


def span_shared_ctes(d: str) -> str:
    """span_base_ctes plus ``shared`` — shingles with doc-frequency >= 2
    and their canonical keeper (min doc_id over the WHOLE corpus;
    dedup_spans joins on ``sh`` only and ignores the keeper column).
    dedup_spans (the report) and dedup_span_removal (the transform that
    acts on it) MUST see the same cross-doc shingle set, so the
    definition lives once."""
    return f"""{span_base_ctes(d)},
shared AS (
    SELECT sh, MIN(doc_id) AS keep_doc
    -- df >= 2 distinct docs <=> MIN(doc_id) <> MAX(doc_id): same gate,
    -- but min/max are plain partial aggregates where COUNT(DISTINCT)
    -- forced the Expand/two-phase distinct path through the sh shuffle
    -- (r15 opt; guide SS2.3 -- shuffle fewer bytes, cheaper agg)
    FROM pos_sh GROUP BY sh HAVING MIN(doc_id) <> MAX(doc_id)
)"""


def span_shared_ctes_spark(spark, sf_dir: str) -> str:
    """Spark-side prologue: the same ``tk``/``pos_sh``/``shared`` names,
    with tk and pos_sh aliased to session-materialized views
    (catalog.session_matview) — the span family references pos_sh from
    both the doc-frequency pass and the position join, and tk from both
    the fan-out and the reassembly/final select, so the inline form
    re-tokenized the corpus per reference."""
    from .. import catalog

    d = dl.SPARK
    toks = dl.split_tokens("lower(trim(text))", d)
    toks_orig = dl.split_tokens("text", d)
    fanout, one = dl.pos_shingle_fanout(SPAN_W, d)
    tk_v = catalog.session_matview(
        spark,
        "span_tk",
        sf_dir,
        f"SELECT doc_id, {toks} AS tk, {toks_orig} AS tko, "
        f"TRIM(text) AS text_orig FROM documents",
    )
    pos_v = catalog.session_matview(
        spark,
        "span_pos_sh",
        sf_dir,
        f"SELECT doc_id, pos, {one} AS sh FROM {tk_v} {fanout}",
        distribute_by="sh",
    )
    return f"""tk AS (SELECT * FROM {tk_v}),
pos_sh AS (SELECT * FROM {pos_v}),
shared AS (
    SELECT sh, MIN(doc_id) AS keep_doc
    -- df >= 2 distinct docs <=> MIN(doc_id) <> MAX(doc_id): same gate,
    -- but min/max are plain partial aggregates where COUNT(DISTINCT)
    -- forced the Expand/two-phase distinct path through the sh shuffle
    -- (r15 opt; guide SS2.3 -- shuffle fewer bytes, cheaper agg)
    FROM pos_sh GROUP BY sh HAVING MIN(doc_id) <> MAX(doc_id)
)"""


def _span_window_pair_sql(doc_filter: str = "TRUE") -> str:
    """Window-form cross-doc candidate rows: (doc_id, pos, is_keep) for
    every pos_sh row whose shingle occurs in >= 2 distinct docs, with
    the corpus-global keeper flag — ONE sh-partitioned window pass over
    pos_sh instead of the GROUP BY sh aggregate PLUS the pos_sh re-join
    (guide §2.4: the agg+join shape shuffles the dominant shingle
    relation by sh TWICE; the window shuffles it once). Spark-side only:
    the DuckDB oracle keeps the agg+join text, so its green check proves
    the two forms value-identical; the incremental probe keeps the join
    form too (its ``shared_m`` is index-merged, not pos_sh-derivable).
    ``doc_filter`` applies AFTER the window — mn/mx must see the whole
    corpus, exactly like the corpus-global ``shared`` it replaces."""
    return f"""(
        SELECT doc_id, pos, doc_id = mn AS is_keep
        FROM (SELECT doc_id, pos,
                     MIN(doc_id) OVER (PARTITION BY sh) AS mn,
                     MAX(doc_id) OVER (PARTITION BY sh) AS mx
              FROM pos_sh) m0
        WHERE mn <> mx AND {doc_filter}
    )"""


def _dedup_spans(
    d: str, prologue: str | None = None, dup_form: str = "join"
) -> str:
    """Exact duplicate-SPAN detection (Lee et al., arXiv:2107.06499): for
    every document, how much of it is covered by word {SPAN_W}-grams that
    also occur in at least one OTHER document — the substring-level dedup
    signal that catches boilerplate/templating which document-level fuzzy
    dedup (MinHash/SimHash) is blind to.

    Plan shape (three keyed shuffles, never all-pairs, all-integer math so
    the oracle is hash-exact):

    1. positional shingle fan-out (one row per (doc, pos) — linear, not
       the quadratic array-lambda re-evaluation; dialect.pos_shingle_fanout);
    2. ONE grouped pass marks shingles whose doc-frequency >= 2 — at 100 TB
       this is the same shuffle-by-shingle that powers minhash/decontam;
    3. duplicated positions per doc merge into maximal spans by
       gaps-and-islands: sorted by pos, a new island starts iff
       pos > lag(pos) + W - 1 (ends are monotone in pos, so the running
       max of previous ends IS lag(pos) + W - 1); covered tokens =
       sum over islands of (max(pos) - min(pos) + W) — exact interval
       union, pure window functions.

    Emits per-doc duplicated-token coverage and the RefinedWeb-style gate
    (drop when > 30% of tokens sit in cross-doc duplicated spans).
    Beyond-parity: the reference engine has no text operators.
    """
    w = SPAN_W
    if dup_form == "window":
        dup = f"""dup AS (
    SELECT doc_id, pos FROM {_span_window_pair_sql()} m
)"""
    else:
        dup = """dup AS (
    SELECT p.doc_id, p.pos
    FROM pos_sh p JOIN shared s ON p.sh = s.sh
)"""
    return f"""
WITH {prologue or span_shared_ctes(d)},
{dup},
brk AS (
    SELECT doc_id, pos,
           CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {w - 1}
                THEN 1 ELSE 0 END AS new_island
    FROM dup
),
grp AS (
    SELECT doc_id, pos,
           SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM brk
),
spans AS (
    SELECT doc_id, island,
           MIN(pos) AS span_start,
           MAX(pos) + {w - 1} AS span_end
    FROM grp GROUP BY doc_id, island
),
cov AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_tokens,
       COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       CASE WHEN t.n_tokens = 0 THEN 0.0
            ELSE ROUND(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
                       / CAST(t.n_tokens AS DOUBLE), 4)
       END AS dup_frac,
       CASE WHEN t.n_tokens = 0 THEN TRUE
            ELSE (CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
                  / CAST(t.n_tokens AS DOUBLE)) <= 0.30
       END AS gate_pass
-- skinny probe side: the report needs tk's LENGTH, not the token array
-- — computing it under the join keeps the doc-keyed exchange to
-- (doc_id, one int) per document (guide §2.3, project before exchange)
FROM (SELECT doc_id, {dl.array_len('tk', d)} AS n_tokens FROM tk) t
LEFT JOIN cov c ON t.doc_id = c.doc_id
"""


def _dedup_spans_spark(spark, sf_dir) -> DataFrame:
    return spark.sql(
        _dedup_spans(
            dl.SPARK,
            prologue=span_shared_ctes_spark(spark, sf_dir),
            dup_form="window",
        )
    )


register_df(
    "dedup_spans",
    _dedup_spans_spark,
    oracle_body=_dedup_spans(dl.DUCK),
    doc="Duplicate-span coverage per document (exact substring-level dedup "
    "signal): cross-doc 5-gram doc-frequency -> interval union by "
    "gaps-and-islands; RefinedWeb-style 30% gate.",
    bench=True,
)


def _dedup_span_removal(
    d: str, prologue: str | None = None, pair_form: str = "join"
) -> str:
    """Duplicate-span REMOVAL (Lee et al. arXiv:2107.06499 ExactSubstr):
    the transform that acts on what dedup_spans reports. Every word
    {SPAN_W}-gram occurring in >= 2 documents (case-insensitive match,
    the dedup_spans definition via span_shared_ctes) elects a canonical
    document (min doc_id); in every OTHER document the tokens that
    occurrence covers are excised and the text reassembled in token
    order — span-level surgery instead of whole-doc drops that lose the
    unique remainder.

    Guarantees: (1) no content loss — a document's positions covered by
    spans it canonically KEEPS are protected from removal, so every
    duplicated span survives intact in its canonical doc even when an
    overlapping span elects a different keeper (without the protection,
    chained overlaps like 'a b c d e' / 'a b c d e f' / 'b c d e f'
    erase the second span from every copy); where a non-keeper's removal
    overlaps a span it keeps, the overlap resolves toward retention, so
    a span may partially survive in more than one doc — the safe
    direction for a cleaning transform. (2) untouched passthrough —
    docs with zero removals emit their original text verbatim (modulo
    TRIM), original case and whitespace; only rebuilt docs collapse
    inter-token whitespace to single spaces, and reassembly always uses
    the ORIGINAL-case tokens (lowercase is a matching key, never
    output). Within-doc repetition is out of scope by the same
    cross-doc definition dedup_spans uses (gopher_repetition gates
    that); docs under {SPAN_W} words pass through untouched (no
    shingles — the shared short-doc scope note at curation.shingle_rows).

    Plan shape, three keyed shuffles and projection fan-outs — never
    all-pairs: (1) the positional shingle fan-out with the cross-doc
    doc-frequency pass shared with dedup_spans (shingle-keyed, the
    minhash/decontam shuffle), run ONCE with the keeper flag projected
    off it; (2) removed-position expansion is a constant x{SPAN_W}
    per-row fan-out + one (doc_id, tpos)-keyed aggregate whose
    NOT bool_or(is_keep) folds the covered-minus-protected subtraction
    into the dedup group itself — no second shingle join, no anti-join;
    (3) reassembly is one doc_id-keyed aggregation — per-group state
    is one document's tokens (collect + sort in Spark, ORDER BY inside
    string_agg in the oracle), bounded by max doc length, not corpus
    size. At 100 TB every stage keys on doc_id or shingle, both already
    the partition keys of the surrounding dedup family.
    """
    return f"""
WITH {prologue or span_shared_ctes(d)},
{_span_removal_core(d, "shared", "TRUE", pair_form=pair_form)}
"""


def _span_removal_core(
    d: str, shared_rel: str, doc_filter: str, pair_form: str = "join"
) -> str:
    """The covered-minus-protected excision + reassembly CTE chain shared
    by the batch transform and the incremental probe — parameterized on
    the ``shared`` relation (corpus-global ``shared`` vs index-merged
    ``shared_m``) and the document subset the transform rewrites (``TRUE``
    for the batch form; the batch split for the incremental probe), the
    _probe_core_sql convention: one text, provably identical logic on
    both paths. ``pair_form="window"`` (Spark corpus-global form only)
    swaps the candidate-generation subquery for the one-shuffle window
    pass (_span_window_pair_sql) — only valid when ``shared_rel`` is the
    corpus-global ``shared``, which the window derives from pos_sh.

    Reassembly, Spark side (r16; guide §2.3 — shuffle fewer bytes): the
    removed positions aggregate into ONE small per-doc array
    (removed_agg) and each surviving document rebuilds per-row from its
    own token array (filter over the position sequence keeps ascending
    order by definition; element_at re-reads the ORIGINAL-case token) — the
    pre-r16 form exploded EVERY corpus token into a row, anti-joined
    the explosion against removed, and re-shuffled all tokens as
    (pos, tok) structs through a doc-keyed collect_list + array_sort.
    Only docs WITH removals enter the rebuild branch; untouched docs
    take the verbatim text_orig passthrough without ever being
    exploded. n_kept = n_tokens − |removed| exactly because removed
    positions are grouped distinct per doc and always lie in
    [1, n_tokens] (pos ≤ n_tokens − W + 1, off ≤ W − 1). The DuckDB
    oracle keeps the explode/anti-join/string_agg text byte-identical,
    so its green check proves the two forms value-identical."""
    if pair_form == "window":
        assert shared_rel == "shared", "window pair form is corpus-global only"
    fanout_1, _ = dl.pos_shingle_fanout(1, d)
    tok_elem = "tko[pos]"
    reassemble = "string_agg(tok, ' ' ORDER BY pos)"
    if pair_form == "window":
        pair_sql = _span_window_pair_sql(doc_filter)
    else:
        pair_sql = f"""(
        SELECT p0.doc_id, p0.pos, p0.doc_id = s.keep_doc AS is_keep
        FROM pos_sh p0
        JOIN {shared_rel} s ON p0.sh = s.sh
        WHERE {doc_filter}
    )"""
    removed = f"""removed AS (
    -- ONE pass over the dominant shingle-keyed join: a position is
    -- removed iff some shared-shingle occurrence covers it (covered)
    -- and NO occurrence covering it is the span's canonical keeper
    -- (protected) — the keeper flag is projected off the single join
    -- and folded with bool_or instead of running the join + x{SPAN_W}
    -- fan-out twice and anti-joining the twins.
    SELECT p.doc_id, p.pos + off AS tpos
    FROM {pair_sql} p
    {dl.lateral_series(SPAN_W, "off", d)}
    GROUP BY p.doc_id, p.pos + off
    HAVING NOT bool_or(is_keep)
)"""
    if d == dl.SPARK:
        al = dl.array_len("t.tk", d)
        # NULL-text algebra mirrors the explode form exactly (caught by
        # the randomized differential lane, seed 11): a NULL-text doc
        # produced zero kept rows there, so n_kept COALESCEs to 0 (never
        # NULL), n_removed = n_tokens - n_kept stays NULL, and the CASE
        # (0 = NULL is not TRUE) falls through to the rebuild branch,
        # which concat_ws-collapses its NULL array to '' — never NULL.
        n_kept = f"COALESCE({al} - COALESCE(CAST(array_size(r.rpos) AS BIGINT), 0), 0)"
        return f"""{removed},
tk_f AS (
    SELECT * FROM tk WHERE {doc_filter}
),
removed_agg AS (
    -- per-doc removed-position set as ONE array row: tpos values are
    -- distinct per doc (the removed GROUP BY keys on them), so the
    -- array is a set and only its membership and size are consumed
    SELECT doc_id, collect_list(tpos) AS rpos
    FROM removed GROUP BY doc_id
)
SELECT t.doc_id,
       {al} AS n_tokens,
       {n_kept} AS n_kept,
       {al} - {n_kept} AS n_removed,
       CASE WHEN {n_kept} = {al}
            THEN t.text_orig
            ELSE concat_ws(' ', transform(
                filter(sequence(1, array_size(t.tk)),
                       p -> NOT array_contains(r.rpos, p)),
                p -> element_at(t.tko, p)))
       END AS text_clean
FROM tk_f t
LEFT JOIN removed_agg r ON r.doc_id = t.doc_id
"""
    return f"""{removed},
tk_f AS (
    SELECT * FROM tk WHERE {doc_filter}
),
tok_rows AS (
    SELECT doc_id, pos, {tok_elem} AS tok
    FROM tk_f
    {fanout_1}
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM tok_rows t
    LEFT JOIN removed c ON c.doc_id = t.doc_id AND c.tpos = t.pos
    WHERE c.doc_id IS NULL
),
rebuilt AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           {reassemble} AS text_clean
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       {dl.array_len('t.tk', d)} AS n_tokens,
       COALESCE(r.n_kept, 0) AS n_kept,
       {dl.array_len('t.tk', d)} - COALESCE(r.n_kept, 0) AS n_removed,
       CASE WHEN COALESCE(r.n_kept, 0) = {dl.array_len('t.tk', d)}
            THEN t.text_orig
            ELSE COALESCE(r.text_clean, '') END AS text_clean
FROM tk_f t
LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
"""


def _dedup_span_removal_spark(spark, sf_dir) -> DataFrame:
    return spark.sql(
        _dedup_span_removal(
            dl.SPARK,
            prologue=span_shared_ctes_spark(spark, sf_dir),
            pair_form="window",
        )
    )


register_df(
    "dedup_span_removal",
    _dedup_span_removal_spark,
    oracle_body=_dedup_span_removal(dl.DUCK),
    doc="ExactSubstr span removal (Lee et al.): excise cross-doc duplicated "
    f"{SPAN_W}-gram spans everywhere but a canonical doc, reassemble text "
    "in token order; emits per-doc kept/removed counts + cleaned text.",
    # benched from r16 (VERDICT r15 #3): the span-removal transform is
    # the heavy half of the span family (reassembly-dominated) and was
    # only wall-timed via ad-hoc A/Bs before.
    bench=True,
)


def _span_index_stats_cte(d: str) -> str:
    """Corpus-side per-shingle stats — exactly what the PERSISTED span
    index stores: distinct-doc frequency (mergeable by addition across
    disjoint accepted batches) and the canonical keeper (mergeable by
    MIN). ``d`` unused: plain aggregate SQL, identical in both engines."""
    from .curation import BATCH_MOD

    return f"""idx_stats AS (
    SELECT sh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           MIN(doc_id) AS keep_doc
    FROM pos_sh WHERE doc_id % {BATCH_MOD} <> 0 GROUP BY sh
)"""


def _span_probe_ctes(idx_rel: str, d: str) -> str:
    """Batch-side stats + the index merge, parameterized on the index
    relation (``idx_stats`` CTE in the self-contained registered entry /
    DuckDB oracle; the persisted parquet view in
    probe_span_removal_index): union doc-frequency = idx.df + batch.df
    (disjoint doc sets, so the sum IS the distinct count), union keeper
    = LEAST of the sides' keepers. ``d`` unused: identical SQL."""
    from .curation import BATCH_MOD

    return f"""b_stats AS (
    SELECT sh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           MIN(doc_id) AS min_doc
    FROM pos_sh WHERE doc_id % {BATCH_MOD} = 0 GROUP BY sh
),
shared_m AS (
    SELECT COALESCE(i.sh, b.sh) AS sh,
           CASE WHEN i.keep_doc IS NULL THEN b.min_doc
                WHEN b.min_doc IS NULL THEN i.keep_doc
                ELSE LEAST(i.keep_doc, b.min_doc) END AS keep_doc
    FROM {idx_rel} i FULL OUTER JOIN b_stats b ON i.sh = b.sh
    WHERE COALESCE(i.df, 0) + COALESCE(b.df, 0) >= 2
)"""


def _dedup_span_removal_incremental(d: str) -> str:
    """Incremental ExactSubstr span removal: a NEW batch (doc_id %
    BATCH_MOD = 0, the dedup_incremental convention) is cleaned against
    the EXISTING corpus's per-shingle index WITHOUT re-transforming the
    corpus — the span-level twin of dedup_incremental_minhash, closing
    the dedup family's ingest story (weekly crawls are excised against
    last week's shingle stats, not re-paired corpus-vs-corpus).

    Semantics: a batch position is excised iff a {SPAN_W}-gram covering
    it has UNION doc-frequency >= 2 (index df + batch df — so both
    corpus-duplicated and within-batch-duplicated spans fire) and no
    covering occurrence elects this doc as keeper, where the union
    keeper is LEAST(index keeper, batch min doc). On monotone ingest ids
    (every batch id above every corpus id — the deployment invariant)
    the corpus side's earlier outputs can never be invalidated; the
    fixture split is interleaved, which the LEAST-merge handles exactly.
    By construction the result equals the batch transform run on the
    whole union, restricted to the batch docs (parity-tested).

    Plan shape: the corpus side collapses to ONE per-shingle aggregate
    (the persisted index at deployment — build/probe_span_removal_index
    run this text against real parquet); the probe is a shingle-keyed
    FULL OUTER merge of two bounded stats tables plus the shared
    covered-minus-protected core over batch positions only. Nothing
    rescans corpus text at probe time.
    """
    from .curation import BATCH_MOD

    return f"""
WITH {span_base_ctes(d)},
{_span_index_stats_cte(d)},
{_span_probe_ctes("idx_stats", d)},
{_span_removal_core(d, "shared_m", f"doc_id % {BATCH_MOD} = 0")}
"""


register_sql(
    "dedup_span_removal_incremental",
    _dedup_span_removal_incremental,
    doc="Incremental ExactSubstr: new-batch docs excised against the "
    "corpus per-shingle index (union df >= 2, LEAST-merged keeper) "
    "without re-transforming the corpus; equals the batch transform on "
    "the union restricted to batch docs.",
)


def build_span_shingle_index(spark, sf_dir: str, path: str) -> None:
    """Materialize the CORPUS side of the span-removal probe (per-shingle
    df + keeper for non-batch docs) to parquet at ``path`` — the
    persisted index _dedup_span_removal_incremental's docstring
    describes, the build_minhash_band_index convention. The build
    tokenizes ONLY corpus docs (span_base_ctes' where); appending a
    newly accepted batch later is a merge of the same stats (df adds,
    keeper MINs)."""
    from .. import catalog
    from .curation import BATCH_MOD

    d = dl.SPARK
    catalog.register_all(spark, sf_dir)
    spark.sql(
        f"WITH {span_base_ctes(d, f'doc_id % {BATCH_MOD} <> 0')},\n"
        f"{_span_index_stats_cte(d)}\n"
        "SELECT sh, df, keep_doc FROM idx_stats"
    ).write.mode("overwrite").parquet(path)


def probe_span_removal_index(spark, sf_dir: str, path: str) -> DataFrame:
    """Clean a NEW batch against the PERSISTED span index at ``path``:
    batch tokenization is computed fresh (span_base_ctes over the batch
    split only), the corpus side is read back from parquet, and the
    shared _span_probe_ctes/_span_removal_core text produces the cleaned
    docs — provably the same logic the oracle-checked registered entry
    runs (parity-tested in tests/test_curation.py)."""
    from .. import catalog
    from .curation import BATCH_MOD

    d = dl.SPARK
    catalog.register_all(spark, sf_dir)
    spark.read.parquet(path).createOrReplaceTempView("idx_span_stats")
    batch = f"doc_id % {BATCH_MOD} = 0"
    return spark.sql(
        f"WITH {span_base_ctes(d, batch)},\n"
        f"{_span_probe_ctes('idx_span_stats', d)},\n"
        f"{_span_removal_core(d, 'shared_m', batch)}"
    )


EDIT_BLOCK_PREFIX = 16  # chars of shared prefix that admit a candidate pair
EDIT_MAX_DIST = 24  # max edits for a near-dup verdict (fixture docs ~128 chars)


def _dedup_edit_distance(d: str) -> str:
    """Character-level near-duplicate pairs by Levenshtein edit distance —
    the third lens next to token-shingle Jaccard (MinHash/ngram) and
    bit-signature Hamming (SimHash): it catches single-character edits,
    whitespace drift and truncations that re-tokenize into very different
    shingle sets.

    Candidates are BLOCKED, never all-pairs: only documents sharing a
    {EDIT_BLOCK_PREFIX}-char prefix meet (one equi-shuffle on the prefix;
    self-join bounded per block). Levenshtein is O(len^2) per pair, so the
    blocking key is doing the scale work — a production run widens recall
    with additional cheap keys (suffix block, length band, a minhash
    band) unioned before the verify, exactly like dedup_minhash_lsh's
    band family. Edit distance is classic dynamic programming with one
    well-defined answer, so the oracle is integer-exact — including on
    multi-byte text: distances are over CODE POINTS in both dialects
    (dialect.levenshtein_codepoints recodes DuckDB's byte semantics).
    """
    sim = (
        "1 - CAST(dist AS DOUBLE) / "
        "CAST(CASE WHEN len_a > len_b THEN len_a ELSE len_b END AS DOUBLE)"
    )
    return f"""
WITH blocked AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {dl.levenshtein_codepoints('a.text', 'b.text', d)} AS dist,
           CAST(length(a.text) AS BIGINT) AS len_a,
           CAST(length(b.text) AS BIGINT) AS len_b
    FROM documents a
    JOIN documents b
      ON substr(a.text, 1, {EDIT_BLOCK_PREFIX}) = substr(b.text, 1, {EDIT_BLOCK_PREFIX})
     AND a.doc_id < b.doc_id
    WHERE a.text <> b.text
)
SELECT doc_a, doc_b, dist, len_a, len_b,
       ROUND({sim}, 4) AS edit_sim
FROM blocked
WHERE dist <= {EDIT_MAX_DIST}
"""


register_sql(
    "dedup_edit_distance",
    _dedup_edit_distance,
    doc="Character-level near-dup pairs: prefix-blocked Levenshtein verify "
    "(catches single-char edits token shingles miss); integer-exact oracle.",
)


CHAIN_MAX_HOPS = 3  # transitive near-dup chains up to A~B~C~D


def _neardup_transitive(d: str) -> str:
    """Bounded-hop transitive closure over the near-dup pair graph, as a
    NATIVE recursive CTE (Spark 4 and DuckDB run the identical SQL):
    A~B and B~C make (A, C) a 2-hop near-dup pair even when A and C
    themselves fall under the Jaccard threshold — the drift chains that
    motivate cluster-level dedup, surfaced with their hop distance.

    The recursion is UNION ALL (all Spark supports in recursive CTEs), so
    termination comes from the hop CAP, not row dedup — cycles in the
    bidirectional edge set just stop at depth {CHAIN_MAX_HOPS}; MIN(hops)
    outside the recursion collapses revisited paths. Scale shape: each
    step is one equi-join on the frontier — worst case |E|·max_degree^h
    rows, so at 100 TB cap the degree first (drop hub docs — they're
    boilerplate by definition) exactly like the LSH band family caps hot
    buckets. Full components (unbounded closure) stay on the iterative
    min-label loop (_dedup_clusters).
    """
    return f"""
WITH RECURSIVE pairs AS (
    {_ngram_jaccard(d)}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
walk(a, b, hops) AS (
    SELECT a, b, 1 FROM edges
    UNION ALL
    SELECT w.a, e.b, w.hops + 1
    FROM walk w
    JOIN edges e ON w.b = e.a
    WHERE w.hops < {CHAIN_MAX_HOPS} AND e.b <> w.a
)
SELECT a AS doc_a, b AS doc_b, CAST(MIN(hops) AS BIGINT) AS min_hops
FROM walk
WHERE a < b
GROUP BY a, b
"""


register_sql(
    "neardup_transitive_pairs",
    _neardup_transitive,
    doc="Bounded-hop transitive near-dup closure via native recursive CTE "
    "(UNION ALL recursion, hop-capped; MIN(hops) collapses paths).",
)


STRONG_JACCARD = 0.6  # above the banding threshold (~0.59) recall should be ~1


def _lsh_quality_report(d: str) -> str:
    """Self-evaluation of the LSH approximation as a QUERY: the verified
    MinHash-LSH pairs measured against the exact n-gram-Jaccard ground
    truth, reported as one row. Precision is 1.0 by construction (the
    verify stage re-checks exact Jaccard on candidates), so the number
    that matters is RECALL: banding at 8x4 has a ~0.59 Jaccard knee, so
    recall over ALL true pairs (>= 0.2) is expectedly partial while
    recall over strong pairs (>= {STRONG_JACCARD}) should sit at ~1.0 —
    this report keeps that contract measured per corpus snapshot instead
    of assumed from theory. Both inputs are the deterministic registry
    pipelines, so the report itself is value-oracled.
    """
    return f"""
WITH truth AS (
    SELECT doc_a, doc_b, jaccard FROM ({_ngram_jaccard(d)}) t
),
found AS (
    SELECT doc_a, doc_b FROM ({_minhash_lsh(d)}) l
),
j AS (
    SELECT t.jaccard,
           CASE WHEN f.doc_a IS NULL THEN 0 ELSE 1 END AS hit
    FROM truth t
    LEFT JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_found_pairs,
       ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall_all,
       CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_strong,
       CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN hit ELSE 0 END) AS BIGINT)
           AS n_found_strong,
       ROUND(CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN hit ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN 1 ELSE 0 END), 4)
           AS recall_strong
FROM j
"""


def _lsh_quality_report_spark(spark, sf_dir) -> DataFrame:
    """Spark side of lsh_quality_report: the `found` leg runs through
    the session-materialized MinHash views (so the report costs one
    ngram-truth pass + one candidate/verify pass, instead of
    re-deriving the shingle pipeline per nested reference — its plan
    carried 10 corpus scans before this)."""
    found = _minhash_lsh_spark(spark, sf_dir)
    found.createOrReplaceTempView("_lshq_found")
    d = dl.SPARK
    sh_v, _, _ = _mh_pipeline_views(spark, sf_dir)
    truth_sql = _ngram_jaccard(d, sh_src=f"SELECT doc_id, shingle FROM {sh_v}")
    return spark.sql(
        f"""
WITH truth AS (
    SELECT doc_a, doc_b, jaccard FROM ({truth_sql}) t
),
found AS (
    SELECT doc_a, doc_b FROM _lshq_found
),
j AS (
    SELECT t.jaccard,
           CASE WHEN f.doc_a IS NULL THEN 0 ELSE 1 END AS hit
    FROM truth t
    LEFT JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_found_pairs,
       ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall_all,
       CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_strong,
       CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN hit ELSE 0 END) AS BIGINT)
           AS n_found_strong,
       ROUND(CAST(SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN hit ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN jaccard >= {STRONG_JACCARD} THEN 1 ELSE 0 END), 4)
           AS recall_strong
FROM j
"""
    )


register_df(
    "lsh_quality_report",
    _lsh_quality_report_spark,
    oracle_body=_lsh_quality_report(dl.DUCK),
    doc="LSH self-evaluation: verified-pair recall vs exact Jaccard ground "
    "truth, overall and above the banding knee — the approximation "
    "contract as a measured row.",
)


def _ngram_novelty(d: str) -> str:
    """Per-document n-gram novelty: the fraction of a doc's distinct word
    {SHINGLE_W}-grams that occur in NO other document — the inverse of
    dedup_spans' duplication signal, and the corpus-side statistic
    memorization/contamination studies track (a low-novelty doc is
    mostly assembled from cross-doc boilerplate; a 1.0-novelty doc is
    unique content).

    Plan: the same DISTINCT (doc, shingle) fan-out + ONE doc-frequency
    pass the minhash/decontamination family shares (shuffle on the
    shingle key), then a per-doc count — all-integer, hash-exact oracle.
    Docs shorter than the shingle width have no shingles and are
    excluded, like the rest of the shingle family (dedup_exact catches
    their duplication).
    """
    from .curation import shingle_rows

    return f"""
WITH sh AS ({shingle_rows(d, "TRUE", SHINGLE_W)}),
df AS (
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty_rate
FROM sh JOIN df ON sh.shingle = df.shingle
GROUP BY sh.doc_id
"""


register_sql(
    "ngram_novelty",
    _ngram_novelty,
    doc="Per-doc fraction of word n-grams unique to the doc corpus-wide "
    "(the inverse of duplicate-span coverage; memorization-study metric).",
)
