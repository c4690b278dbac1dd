"""Similarity search over the ``embeddings`` table (array<float> column).

Two paths:

- **brute-force cosine top-k** — the correctness baseline: candidates ×
  broadcast(query set), dot products via zip_with/aggregate (JVM-side
  higher-order functions, no Python). Fine whenever |queries| is small;
  cost is |corpus|·|queries|.
- **multi-table LSH top-k** — L independent hash tables of k hyperplane
  sign bits each; candidates are the union of same-(table, bucket) pairs.
  Multiple tables are what make hyperplane LSH usable when neighbors are
  weak (P[hit] = 1-(1-p^k)^L): one table's miss is another's hit. Scan
  fraction ≈ L/2^k of the corpus. Approximate vs brute force but
  deterministic given the seeded planes, so the DuckDB oracle REPLAYS the
  same bucketing for a full value-level check; recall vs the exact
  baseline is additionally pytest-asserted (tests/test_similarity.py).
- **IVF top-k** — coarse-centroid cells + N_PROBE-cell probing; the
  partition-pruning design real vector stores use at scale. Same story:
  deterministic index build → oracle replays it.

Cosine similarities are rounded to 4 decimals before ranking so Spark's
fold order and the oracle's (DuckDB list_cosine_similarity) agree
deterministically; ties then break on candidate id.
"""

from __future__ import annotations

import random
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from .. import catalog as _catalog
from .. import dialect as dl
from ..registry import register_df, register_sql

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
# k planes/table sets bucket granularity (~log2(corpus/target bucket size));
# L tables set the recall (1-(1-p^k)^L). 4×4 keeps buckets populated AND
# recall clear of the floor at fixture scale; at billions of rows raise k
# with corpus size and L with desired recall.
N_PLANES = 4
L_TABLES = 4
EMB_DIM = 64


def unrolled_fold(terms: list[str], init: str = "0D") -> str:
    """Left-associated ``init + t0 + t1 + …`` sum chain: bit-identical to
    ``aggregate(…)``'s fold order (IEEE addition applied in the same
    sequence, including the leading init so a ``-0.0`` first term still
    normalizes to ``+0.0``), and plain arithmetic compiles into
    WholeStageCodegen where the higher-order ``aggregate``/``zip_with``
    forms are CodegenFallback (interpreted per row).

    USE SPARINGLY (r15 A/B): the 64-term trees cost real per-query
    Catalyst analysis time — unrolling the ANN pair kernels made their
    warm sf0.1 walls ~2x WORSE, unrolling kmeans_assign's corpus×K
    distance was a wash (pooled mins 0.410 vs 0.415 s over 2×15 reps),
    and unrolling many dots into one projection ("L×k plane dots") blows
    Janino's 64 KB method limit, falling back to whole-stage
    interpretation. The one live use is semdedup's per-vector norm
    projection, where the point is hoisting the fold out of the pair
    join's codegen consume rather than the unroll itself."""
    return "(" + " + ".join([init, *terms]) + ")"


def _cosine(qv: str, cv: str) -> F.Column:
    dot = F.expr(f"aggregate(zip_with({qv}, {cv}, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    n1 = F.expr(f"aggregate({qv}, 0D, (acc, x) -> acc + x * x)")
    n2 = F.expr(f"aggregate({cv}, 0D, (acc, x) -> acc + x * x)")
    return dot / (F.sqrt(n1) * F.sqrt(n2))


def _cosine_nrm(qv: str, cv: str, qn: str, cn: str) -> F.Column:
    """Cosine with the norms read from the ``_emb_view`` matview instead
    of recomputed per candidate PAIR — bit-identical to ``_cosine``
    (same sqrt of the same fold, hoisted), but the brute path stops
    paying |corpus|x|queries| norm folds for |corpus| vectors' worth of
    information. Zero-norm rows divide 0D/0D → NaN exactly as before;
    entries that guard do it on the precomputed ``nrm`` column."""
    dot = F.expr(f"aggregate(zip_with({qv}, {cv}, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    return dot / (F.col(qn) * F.col(cn))


def _emb_view(spark, sf_dir) -> str:
    """Session matview of (vec_id, label, v, nrm): the float→double cast
    and the norm fold paid ONCE per session instead of once per query
    rep — the normalize-at-ingest step every production vector store
    runs (VERDICT r12 item 4: the r12 zero-norm guards re-traversed the
    array per query; A/B'd at sf0.1 the fold is ~36% off the brute-scan
    wall). UNFILTERED: zero-norm rows stay, so unguarded entries keep
    their exact pre-matview semantics and guarded ones filter the
    precomputed ``nrm > 0`` (⇔ dialect.norm_positive, sqrt monotone) as
    a cheap scalar predicate. At cluster scale this materializes the
    embedding corpus once (memory-and-disk; 'reliable' mode checkpoints
    it) — the same lifecycle as the PQ codebook index views."""
    return _catalog.session_matview(
        spark,
        "emb_normed",
        sf_dir,
        "SELECT vec_id, label, v, "
        "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) AS nrm "
        "FROM (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v "
        "FROM embeddings)",
    )


# ---------------------------------------------------------------------------
# Arrow batch kernel for the brute-force pair scans (guide §4.2): the
# per-pair ``aggregate(zip_with(...))`` dot is CodegenFallback —
# interpreted per row per pair — and unrolling it was measured 2x worse
# (see unrolled_fold). The scale-correct form hands whole candidate
# batches to NumPy: one (batch x queries) matmul per Arrow batch replaces
# |batch|·|queries| interpreted 64-term folds. The query block is bounded
# (|queries| = N_QUERIES = 10) and cached per (session, sf_dir) in the
# catalog's session store (kind "brute_q") — the same driver-side
# probe-routing lifecycle r14 sanctioned for the IVF index (nothing
# persists across sessions; catalog.invalidate releases it).
#
# Value contract: the kernel emits the RAW double cosine (dot / (qn·cn));
# the JVM applies the SAME ``F.round(·, 4)`` the expression form used, so
# the only divergence window is the dot's float accumulation order
# (NumPy pairwise vs the fold's left-to-right) — beneath the declared
# 4-decimal rounding exactly as DuckDB's own accumulation order already
# is. IEEE edge parity is preserved: 0/0 → NaN and x/0 → ±Inf in both
# engines, NULL/ragged vectors score NULL (matching zip_with's NULL
# propagation).
# ---------------------------------------------------------------------------

def _brute_query_block(spark, sf_dir):
    """(q_ids int64[Q], Q float64[Q,dim], qn float64[Q]) of the bounded
    query set (vec_id < N_QUERIES), collected once per (session, sf_dir)
    off the embedding matview and held in the catalog's session store;
    None if any query row is NULL or ragged (callers then fall back to
    the expression kernel, whose zip_with NULL propagation defines the
    semantics for that case)."""
    import numpy as np

    def build():
        rows = (
            spark.table(_emb_view(spark, sf_dir))
            .where(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "v", "nrm")
            .collect()
        )
        rows.sort(key=lambda r: r[0])
        if any(r[1] is None or len(r[1]) != EMB_DIM or r[2] is None for r in rows):
            return None
        return (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float64),
            np.array([r[2] for r in rows], dtype=np.float64),
        )

    return _catalog.memo(spark, ("brute_q", sf_dir), build)


def _brute_pair_scores_arrow(
    candidates: DataFrame, q_ids, qm, qn, labeled: bool
) -> DataFrame:
    """(q_id, c_id[, c_label], cos_raw) for every candidate × query pair
    via mapInArrow + NumPy matmul. ``candidates`` must be exactly
    (c_id, cv, cn[, c_label]) — project before calling (guide §4.1:
    opaque functions defeat column pruning)."""
    dim = qm.shape[1]
    nq = len(q_ids)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cid = b.column("c_id").to_numpy(zero_copy_only=False)
            cn_col = b.column("cn")
            cn = cn_col.to_numpy(zero_copy_only=False)
            arr = b.column("cv")
            lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
            # NULL cn/cv or ragged cv scores NULL (zip_with semantics);
            # a NaN that is PRESENT flows through the division to NaN,
            # exactly as the JVM expression does — so gate on nullness,
            # not isnan.
            cn_null = cn_col.is_null().to_numpy(zero_copy_only=False)
            with np.errstate(invalid="ignore"):
                good = (~cn_null) & (lens == dim)
            if good.all():
                flat = arr.flatten().to_numpy(zero_copy_only=False)
                C = flat.reshape(n, dim)
            else:
                C = np.zeros((n, dim), dtype=np.float64)
                lists = arr.to_pylist()
                for i in range(n):
                    if good[i]:
                        C[i] = lists[i]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (C @ qm.T) / (cn[:, None] * qn[None, :])
            valid = np.repeat(good, nq)
            cols = {
                "q_id": pa.array(np.tile(q_ids, n)),
                "c_id": pa.array(np.repeat(cid, nq)),
                "cos_raw": pa.array(
                    cos.reshape(-1), mask=~valid if not good.all() else None
                ),
            }
            if labeled:
                cols["c_label"] = b.column("c_label").take(
                    pa.array(np.repeat(np.arange(n), nq))
                )
            yield pa.RecordBatch.from_arrays(
                list(cols.values()), list(cols.keys())
            )

    schema = "q_id bigint, c_id bigint, cos_raw double"
    if labeled:
        schema += ", c_label int"
    return candidates.mapInArrow(kernel, schema)


def _ann_brute(spark, sf_dir) -> DataFrame:
    emb = spark.table(_emb_view(spark, sf_dir))
    block = _brute_query_block(spark, sf_dir)
    if block is not None:
        q_ids, qm, qn = block
        mask = qn > 0  # same nrm > 0 gate the expression form applies
        c = emb.where(F.col("nrm") > 0).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        scored = (
            _brute_pair_scores_arrow(
                c, q_ids[mask], qm[mask], qn[mask], labeled=False
            )
            .where(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"))
        )
    else:
        q = (
            emb.where(F.col("vec_id") < N_QUERIES)
            .where(F.col("nrm") > 0)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
            )
        )
        c = emb.where(F.col("nrm") > 0).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(F.col("q_id") != F.col("c_id"))
            .select(
                "q_id",
                "c_id",
                F.round(_cosine_nrm("qv", "cv", "qn", "cn"), 4).alias("cos_sim"),
            )
        )
    w = "(PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)"
    return (
        scored.withColumn("rank", F.expr(f"ROW_NUMBER() OVER {w}"))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


_ANN_ORACLE = f"""
WITH q AS (
    SELECT q_id, qv FROM (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ) WHERE {dl.norm_positive('qv', dl.DUCK)}
),
c AS (
    SELECT c_id, cv FROM (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ) WHERE {dl.norm_positive('cv', dl.DUCK)}
),
scored AS (
    SELECT q_id, c_id, round(list_cosine_similarity(qv, cv), 4) AS cos_sim
    FROM q, c
    WHERE q_id <> c_id
)
SELECT q_id, c_id, cos_sim, rank
FROM (
    SELECT q_id, c_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


register_df(
    "ann_cosine_topk",
    _ann_brute,
    oracle_body=_ANN_ORACLE,
    doc="Brute-force cosine top-k (broadcast queries; exactness baseline).",
    bench=True,
)


def _planes(n: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes (seeded; shipped as literals/broadcast)."""
    rng = random.Random(42)
    return [[rng.choice((-1, 1)) for _ in range(EMB_DIM)] for _ in range(n)]


def _lsh_tables(
    df: DataFrame,
    vcol: str,
    n_planes: int = N_PLANES,
    l_tables: int = L_TABLES,
) -> DataFrame:
    """Attach (table, bucket) rows: L tables × k sign bits per vector.

    The plane dots stay in zip_with form ON PURPOSE (r15): unrolling all
    L×k 64-term dots into one projection expression blows Janino's 64 KB
    per-method limit ("Code grows beyond 64 KB"), and Spark then falls
    back to interpreting the WHOLE stage — strictly worse than the
    interpreted lambdas. These dots run once per vector at ingest (the
    matview lifecycle), not per candidate pair, so the unrolled-kernel
    treatment (``unrolled_fold``) is reserved for the pair scans."""
    planes = _planes(l_tables * n_planes)
    entries = []
    for t in range(l_tables):
        bits = []
        for j in range(n_planes):
            p = planes[t * n_planes + j]
            arr = "array(" + ",".join(f"{x}D" for x in p) + ")"
            bits.append(
                f"(CASE WHEN aggregate(zip_with({vcol}, {arr}, (a, b) -> a * b), 0D,"
                f" (acc, x) -> acc + x) > 0 THEN {1 << j}L ELSE 0L END)"
            )
        entries.append(f"struct({t} AS tbl, ({' + '.join(bits)}) AS bucket)")
    return df.withColumn(
        "tb", F.explode(F.expr("array(" + ", ".join(entries) + ")"))
    ).select(*df.columns, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))


def _lsh_view(spark, sf_dir) -> str:
    """Session matview extending ``_emb_view`` with the L×k sign-bit
    bucket keys as an array column — hash-at-ingest, the same lifecycle
    ``_decon_norm_view`` runs for the decon working point: re-hashing
    L_TABLES×N_PLANES interpreted plane-dot lambdas per vector per QUERY
    is the cost a production LSH pays once at ingest. Kept skinny (keys
    as an array, exploded per consumer) so the cache holds one vector
    copy, not L."""
    planes = _planes(L_TABLES * N_PLANES)
    entries = []
    for t in range(L_TABLES):
        bits = []
        for j in range(N_PLANES):
            arr = "array(" + ",".join(
                f"{x}D" for x in planes[t * N_PLANES + j]
            ) + ")"
            bits.append(
                f"(CASE WHEN aggregate(zip_with(v, {arr}, (a, b) -> a * b), 0D,"
                f" (acc, x) -> acc + x) > 0 THEN {1 << j}L ELSE 0L END)"
            )
        entries.append(f"struct({t} AS tbl, ({' + '.join(bits)}) AS bucket)")
    base = _emb_view(spark, sf_dir)
    return _catalog.session_matview(
        spark,
        "emb_lsh",
        sf_dir,
        f"SELECT vec_id, v, nrm, array({', '.join(entries)}) AS tb FROM {base}",
    )


def _lsh_keyed(spark, sf_dir) -> DataFrame:
    """(vec_id, v, nrm, tbl, bucket) rows off the materialized key view —
    value-identical to ``_lsh_tables(_emb_view rows, 'v')`` (same seeded
    planes, same sign bits; pinned by the unchanged oracles)."""
    return (
        spark.table(_lsh_view(spark, sf_dir))
        .withColumn("tb1", F.explode("tb"))
        .select(
            "vec_id",
            "v",
            "nrm",
            F.col("tb1.tbl").alias("tbl"),
            F.col("tb1.bucket").alias("bucket"),
        )
    )


def _ann_lsh(spark, sf_dir) -> DataFrame:
    tables = _lsh_keyed(spark, sf_dir)
    q = tables.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "tbl",
        "bucket",
    )
    c = tables.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "tbl",
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        # a pair can collide in several tables — dedupe before ranking
        .dropDuplicates(["q_id", "c_id"])
        .select(
            "q_id",
            "c_id",
            F.round(_cosine_nrm("qv", "cv", "qn", "cn"), 4).alias("cos_sim"),
        )
    )
    w = "(PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)"
    return (
        scored.withColumn("rank", F.expr(f"ROW_NUMBER() OVER {w}"))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def _duck_buckets_cte() -> str:
    """DuckDB CTE replaying the EXACT multi-table LSH bucketing the Spark
    path computes: same seeded planes (shared ``_planes()`` literals), same
    sign-bit buckets. Hyperplane LSH is deterministic given the planes, so
    the 'approximate' pipeline is still value-level checkable — the oracle
    runs the same algorithm, not a looser bound. (Sign flips would need a
    plane dot within float-fold error of 0 — not present in the fixtures.)
    """
    planes = _planes(L_TABLES * N_PLANES)
    tables = []
    for t in range(L_TABLES):
        bits = []
        for j in range(N_PLANES):
            arr = "[" + ",".join(f"{x}.0" for x in planes[t * N_PLANES + j]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        tables.append(
            f"SELECT vec_id, v, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM e"
        )
    return (
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
        "tb AS (\n    " + "\n    UNION ALL ".join(tables) + "\n)"
    )


def _ann_lsh_oracle() -> str:
    return f"""
WITH {_duck_buckets_cte()},
q AS (SELECT vec_id AS q_id, tbl, bucket FROM tb WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS c_id, tbl, bucket FROM tb),
cand AS (
    SELECT DISTINCT q_id, c_id
    FROM q JOIN c USING (tbl, bucket)
    WHERE q_id <> c_id
),
scored AS (
    SELECT cand.q_id, cand.c_id,
           round(list_cosine_similarity(eq.v, ec.v), 4) AS cos_sim
    FROM cand
    JOIN e eq ON eq.vec_id = cand.q_id
    JOIN e ec ON ec.vec_id = cand.c_id
)
SELECT q_id, c_id, cos_sim, rank
FROM (
    SELECT q_id, c_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


register_df(
    "ann_lsh_topk",
    _ann_lsh,
    oracle_body=_ann_lsh_oracle(),
    doc="Multi-table hyperplane-LSH cosine top-k: L tables bound the join "
    "(approximate vs brute force, but deterministic — the oracle replays "
    "the same planes/buckets).",
)


N_CELLS = 16  # IVF coarse cells; at scale ~sqrt(|corpus|), kmeans-trained
N_PROBE = 8  # cells scanned per query (recall/scan-fraction knob)

#: Corpus size below which IVF pruning is disabled (probe = all cells):
#: with sample-based centroids and probe = cells/4, measured recall_vs_pq
#: at r15 was 0.32 (N=490) and 0.58 (N=1990) — IVF pruning only clears
#: the 0.9 recall floor once cells are dense enough (0.94 at N=19,900
#: with 128/32; 1.0 at N=59,700 with 256/64). Matches FAISS guidance
#: that IVF indexes want >= ~10^4 vectors; below that a full ADC scan is
#: both cheap and exact, so the auto rule degrades to it honestly.
N_IVF_MIN = 10_000


def auto_ivf_geometry(n_corpus: int) -> tuple[int, int]:
    """(n_cells, n_probe) derived from the corpus row count (VERDICT r14
    #3): cells = 2^round(log2(sqrt(N))) — the centroid table stays
    O(sqrt(corpus)), the bound the r14 coordinator probe routing is
    built around — and probe = cells/4 (~25% scan fraction) once the
    corpus clears N_IVF_MIN; smaller corpora probe every cell (exact
    full-corpus ADC, recall 1.0 by construction). Reproduces the
    hand-tuned stress geometries exactly: N=19,990 -> (128, 32),
    N=59,990 -> (256, 64)."""
    import math

    cells = max(4, 2 ** round(math.log2(max(4.0, math.sqrt(n_corpus)))))
    if n_corpus < N_IVF_MIN:
        return cells, cells
    return cells, max(1, cells // 4)


def _ann_ivf(spark, sf_dir) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the partition-pruned scale path.

    Index build: N_CELLS coarse centroids (here a deterministic sample of
    corpus vectors — the kmeans-training step of a real IVF — collected to
    the driver ONCE; K rows, not data-scale). Assignment: every vector's
    nearest centroid by cosine, all JVM-side expression math. Search: each
    query probes its N_PROBE nearest cells only, so the candidate join
    touches ~N_PROBE/N_CELLS of the corpus instead of all of it — the
    IVF pruning that makes brute force unnecessary at 100 TB. Approximate
    vs brute force (recall floor pytest-asserted) — but the BUILD is
    deterministic, so the entry still carries a full value-level DuckDB
    oracle replaying cells and candidates bit-identically.
    """
    emb = (
        spark.table(_emb_view(spark, sf_dir))
        .where(F.col("nrm") > 0)  # == dialect.norm_positive, precomputed
        .select("vec_id", "v", "nrm")
    )
    # index build: deterministic centroid sample (vec_ids just past the
    # query range), one bounded collect — this is index training, not query
    cents = (
        emb.where(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
        )
        .orderBy("vec_id")
        .collect()
    )
    if not cents:
        # no trainable index on a (near-)empty corpus: the graceful
        # degenerate is an empty result with the right schema, not an
        # array_max(array()) analysis error (r12 degenerate probe)
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cos_sim double, rank bigint"
        )

    def cell_sims(vcol: str) -> str:
        """Array of (cos_sim, cell_id) structs against every centroid."""
        entries = []
        for i, row in enumerate(cents):
            arr = "array(" + ",".join(f"{x}D" for x in row["v"]) + ")"
            norm = sum(x * x for x in row["v"]) ** 0.5
            entries.append(
                f"struct(aggregate(zip_with({vcol}, {arr}, (a, b) -> a * b), 0D,"
                f" (acc, x) -> acc + x) / {norm}D AS sim, {i} AS cell)"
            )
        return "array(" + ", ".join(entries) + ")"

    sims = cell_sims("v")
    # candidates: one home cell each (argmax sim = lexicographic array_max)
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.expr(f"array_max({sims}).cell").alias("cell"),
    )
    # queries: probe the N_PROBE nearest cells
    q = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.expr(
                f"transform(slice(reverse(array_sort({sims})), 1, {N_PROBE}),"
                " s -> s.cell)"
            ).alias("probes"),
        )
        .select("q_id", "qv", "qn", F.explode("probes").alias("cell"))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(_cosine_nrm("qv", "cv", "qn", "cn"), 4).alias("cos_sim"),
        )
    )
    w = "(PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)"
    return (
        scored.withColumn("rank", F.expr(f"ROW_NUMBER() OVER {w}"))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def _ann_ivf_oracle() -> str:
    """DuckDB replay of the IVF index build + probe. The centroids are the
    deterministic corpus sample (vec_id {N_QUERIES}..{N_QUERIES+N_CELLS-1})
    read straight from the table, so the oracle needs no driver-side
    collect; sim = dot/|centroid| matches the Spark formula, and the
    argmax/probe orderings (sim DESC, cell DESC) mirror Spark's
    lexicographic array_max / reverse(array_sort)."""
    return f"""
WITH e AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ) WHERE {dl.norm_positive('v', dl.DUCK)}
),
cents AS (
    SELECT vec_id - {N_QUERIES} AS cell, v AS cv
    FROM e WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
),
sims AS (
    SELECT e.vec_id, cents.cell,
           list_dot_product(e.v, cents.cv) / sqrt(list_dot_product(cents.cv, cents.cv)) AS sim
    FROM e, cents
),
home AS (
    SELECT vec_id AS c_id, cell
    FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
        FROM sims
    ) WHERE rn = 1
),
probes AS (
    SELECT vec_id AS q_id, cell
    FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
        FROM sims WHERE vec_id < {N_QUERIES}
    ) WHERE rn <= {N_PROBE}
),
scored AS (
    SELECT p.q_id, h.c_id,
           round(list_cosine_similarity(eq.v, ec.v), 4) AS cos_sim
    FROM probes p
    JOIN home h USING (cell)
    JOIN e eq ON eq.vec_id = p.q_id
    JOIN e ec ON ec.vec_id = h.c_id
    WHERE p.q_id <> h.c_id
)
SELECT q_id, c_id, cos_sim, rank
FROM (
    SELECT q_id, c_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


register_df(
    "ann_ivf_topk",
    _ann_ivf,
    oracle_body=_ann_ivf_oracle(),
    doc="IVF ANN top-k: coarse-cell assignment + N_PROBE cell pruning "
    "(approximate vs brute force; oracle replays the same index build).",
)


# Near-dup cosine threshold. In production this sits near 0.9 (true
# near-dups, which multi-table LSH essentially never misses); the fixture
# embeddings are independent random vectors whose max pairwise cosine is
# ~0.44, so the operator pins the knob at 0.35 to exercise the full
# bucket-join + threshold path on real (non-empty) output.
NEARDUP_MIN_COS = 0.35


def _embed_neardup(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same-(table, bucket)
    candidates only (multi-table hyperplane LSH), cosine ≥ threshold. The
    all-pairs version of this is the canonical 100 TB killer; bucketing
    bounds it, and true near-dups (cosine ≥ 0.9 ⇒ tiny plane-disagreement
    probability) are exactly the pairs multi-table LSH rarely misses."""
    tables = _lsh_keyed(spark, sf_dir)
    a = tables.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "tbl",
        "bucket",
    )
    b = tables.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "tbl",
        "bucket",
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(_cosine_nrm("va", "vb", "na", "nb"), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_MIN_COS)
    )


def _embed_neardup_oracle() -> str:
    return f"""
WITH {_duck_buckets_cte()},
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM tb a
    JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim
FROM (
    SELECT cand.id_a, cand.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
    FROM cand
    JOIN e ea ON ea.vec_id = cand.id_a
    JOIN e eb ON eb.vec_id = cand.id_b
)
WHERE cos_sim >= {NEARDUP_MIN_COS}
"""


register_df(
    "embed_neardup_cosine",
    _embed_neardup,
    oracle_body=_embed_neardup_oracle(),
    doc="Embedding near-dup pairs: LSH-bucketed candidate join + cosine threshold "
    "(oracle replays the same buckets).",
)


def _knn_classify(spark, sf_dir) -> DataFrame:
    """kNN label classification: predict each query vector's label by
    majority vote of its TOP_K cosine neighbors among the labeled corpus
    (the label-propagation / quality-classifier-application step of a
    curation pipeline). Vote ties break to the smaller label; neighbor
    ranking ties to the smaller candidate id — fully deterministic, so
    the oracle replays it value-for-value.

    Candidate generation here is the brute-force baseline (broadcast of
    |queries|=10); at corpus scale swap in the LSH/IVF bucketed candidate
    joins above — the vote/ranking pipeline is unchanged.
    """
    emb = spark.table(_emb_view(spark, sf_dir))
    block = _brute_query_block(spark, sf_dir)
    if block is not None:
        q_ids, qm, qn = block  # kNN applies no norm gate — NaN/Inf flow as IEEE
        c = emb.where(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
            F.col("label").alias("c_label"),
        )
        scored = _brute_pair_scores_arrow(c, q_ids, qm, qn, labeled=True).select(
            "q_id", "c_id", "c_label", F.round("cos_raw", 4).alias("cos_sim")
        )
    else:
        q = emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        c = emb.where(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
            F.col("label").alias("c_label"),
        )
        scored = c.crossJoin(F.broadcast(q)).select(
            "q_id",
            "c_id",
            "c_label",
            F.round(_cosine_nrm("qv", "cv", "qn", "cn"), 4).alias("cos_sim"),
        )
    neigh = scored.withColumn(
        "rank",
        F.expr("ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)"),
    ).where(F.col("rank") <= TOP_K)
    votes = neigh.groupBy("q_id", "c_label").agg(F.count("*").alias("votes"))
    return (
        votes.withColumn(
            "rn",
            F.expr("ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, c_label ASC)"),
        )
        .where(F.col("rn") == 1)
        .select("q_id", F.col("c_label").alias("pred_label"), F.col("votes").cast("bigint").alias("votes"))
    )


_KNN_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
    SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv, label AS c_label
    FROM embeddings WHERE vec_id >= {N_QUERIES}
),
neigh AS (
    SELECT q_id, c_id, c_label,
           ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC, c_id ASC) AS rank
    FROM q, c
),
votes AS (
    SELECT q_id, c_label, COUNT(*) AS votes
    FROM neigh WHERE rank <= {TOP_K}
    GROUP BY q_id, c_label
)
SELECT q_id, pred_label, votes
FROM (
    SELECT q_id, c_label AS pred_label, CAST(votes AS BIGINT) AS votes,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, c_label ASC) AS rn
    FROM votes
)
WHERE rn = 1
"""


register_df(
    "knn_classify",
    _knn_classify,
    oracle_body=_KNN_ORACLE,
    doc="kNN majority-vote label prediction over embedding neighbors "
    "(deterministic ties; candidate generation swaps to LSH/IVF at scale).",
    bench=True,
)


# ---------------------------------------------------------------------------
# Incremental ANN index maintenance (streaming): the 100 TB ingest path —
# new embeddings stream in, LSH bucket rows append to a partitioned index,
# queries hit only their buckets. Batch ann_lsh_topk is the equality oracle.
# ---------------------------------------------------------------------------


def stream_lsh_index_build(
    spark,
    emb_path: str,
    index_path: str,
    *,
    checkpoint: str,
    files_per_trigger: int = 4,
    timeout_s: int = 300,
) -> None:
    """Maintain the multi-table LSH index INCREMENTALLY: replayed embedding
    batches map to (vec_id, v, tbl, bucket) rows — the same seeded planes
    as the batch ``ann_lsh_topk`` — and append to a tbl-partitioned parquet
    index via foreachBatch. Stateless per micro-batch (the index IS the
    state, on storage, not in a state store), so ingest scales with batch
    size; queries later prune to their (tbl, bucket) slice. Per-batch
    appends produce small files — production compacts per partition on a
    schedule (or writes through an upsert_sink keyed on vec_id, which also
    absorbs at-least-once replays; here the query path's pair-dedup makes
    duplicate index rows harmless).
    """
    from .. import streaming as st

    stream = st.replay_stream(spark, emb_path, files_per_trigger=files_per_trigger)
    if "epoch" in stream.columns:
        stream = stream.drop("epoch")
    stream = stream.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucketed = _lsh_tables(stream, "v")

    def write(df, _epoch_id):
        df.write.mode("append").partitionBy("tbl").parquet(index_path)

    q = st.foreach_batch_sink(bucketed, write, checkpoint=checkpoint)
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"LSH index build still running after {timeout_s}s")


def query_lsh_index(
    spark, index_path: str, queries: DataFrame, *, exclude_self: bool = True
) -> DataFrame:
    """Top-k cosine neighbors against the streamed index: queries bucket
    with the same planes, broadcast-join the index on (tbl, bucket) —
    partition pruning on tbl + bucket filter mean each query scans its
    ≈L/2^k slice of the corpus, identical to the batch ann_lsh_topk plan.

    ``exclude_self`` drops candidates whose vec_id equals the query's —
    correct when the queries ARE rows of the indexed corpus (the batch
    ann_lsh_topk convention this parity-checks against). Pass False when
    query ids live in their OWN id-space (the general serving case):
    there an id collision is a coincidence, and excluding it would
    silently drop a legitimate neighbor (round-6 review finding).
    """
    idx = spark.read.parquet(index_path)
    q = _lsh_tables(
        queries.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
        "v",
    ).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "tbl", "bucket"
    )
    joined = idx.join(F.broadcast(q), ["tbl", "bucket"])
    if exclude_self:
        joined = joined.where(F.col("q_id") != F.col("vec_id"))
    scored = (
        joined
        .dropDuplicates(["q_id", "vec_id"])
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(_cosine("qv", "v"), 4).alias("cos_sim"),
        )
    )
    w = "(PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)"
    return (
        scored.withColumn("rank", F.expr(f"ROW_NUMBER() OVER {w}"))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "c_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Scalar-quantized ANN (SQ8): the memory-bound scale path — int8 codes are
# 8x smaller than float64, so the candidate scan stays in page cache at
# corpus sizes where raw vectors thrash. Per-vector max-abs scaling makes
# the scales CANCEL in cosine, so ranking runs on exact integer dot
# products (BIGINT sums — order-free, no float fold anywhere until the
# final division), which is why this "approximate" method has an exact
# cross-engine oracle.
# ---------------------------------------------------------------------------


def _ann_sq8(d: str = dl.DUCK) -> str:
    """DuckDB oracle for SQ8: replays the encode + integer-dot ranking
    inline (the Spark side reads its session codes matview instead —
    same values, encode hoisted)."""
    assert d == dl.DUCK, "Spark side runs _ann_sq8_spark over the codes matview"
    v = "CAST(embedding AS DOUBLE[])"
    absmax = "list_max(list_transform(v, x -> abs(x)))"
    code = "list_transform(v, x -> CAST(ROUND(x * 127 / s) AS BIGINT))"

    def dot(a, b):
        return f"list_dot_product({a}, {b})"

    cos = (
        f"CAST({dot('qc', 'cc')} AS DOUBLE) / "
        f"(SQRT(CAST({dot('qc', 'qc')} AS DOUBLE)) * "
        f"SQRT(CAST({dot('cc', 'cc')} AS DOUBLE)))"
    )
    return f"""
WITH codes AS (
    SELECT vec_id, {code} AS c
    FROM (SELECT vec_id, v, {absmax} AS s
          FROM (SELECT vec_id, {v} AS v FROM embeddings) e
          WHERE {dl.norm_positive('v', d)}) x
),
q AS (SELECT vec_id AS q_id, c AS qc FROM codes WHERE vec_id < {N_QUERIES}),
cand AS (SELECT vec_id AS c_id, c AS cc FROM codes),
scored AS (
    SELECT q_id, c_id, ROUND({cos}, 4) AS cos_sim
    FROM cand CROSS JOIN q
    WHERE q_id <> c_id
)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT q_id, c_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


def _sq8_codes_view(spark, sf_dir) -> str:
    """Session matview of the int8 codes — encode-at-ingest. The encode
    pass (abs-max scale + 64 rounds per vector) used to run per QUERY,
    which is what made SQ8 slower than brute force at bench scale (the
    old register_sql docstring kept that tradeoff measured); a real SQ8
    index encodes once and scans codes forever. Chains off ``_emb_view``
    so cast/norm/guard are shared with the rest of the ANN family."""
    base = _emb_view(spark, sf_dir)
    return _catalog.session_matview(
        spark,
        "sq8_codes",
        sf_dir,
        "SELECT vec_id, transform(v, x -> CAST(ROUND(x * 127 / s) AS BIGINT)) AS c "
        f"FROM (SELECT vec_id, v, array_max(transform(v, x -> abs(x))) AS s "
        f"FROM {base} WHERE nrm > 0)",
    )


def _ann_sq8_spark(spark, sf_dir) -> DataFrame:
    # r15 opt: the per-SIDE self-dots hoisted out of the pair scan — the
    # old form re-folded qc·qc and cc·cc once per PAIR for per-vector
    # information (integer dots, so the hoist is exactly the same value;
    # the pair kernel now folds one dot instead of three). The dots stay
    # zip_with: unrolling them was A/B'd at 2x WORSE warm wall (the
    # 64-term trees cost more in per-query Catalyst analysis than the
    # interpreted fold costs at the benched pair counts).
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    cos = (
        f"CAST({dot.format(a='qc', b='cc')} AS DOUBLE) / "
        f"(SQRT(CAST(qn2 AS DOUBLE)) * SQRT(CAST(cn2 AS DOUBLE)))"
    )
    self_dot = dot.format(a="c", b="c")
    codes = _sq8_codes_view(spark, sf_dir)
    return spark.sql(
        f"""
WITH q AS (SELECT vec_id AS q_id, c AS qc, {self_dot} AS qn2
           FROM {codes} WHERE vec_id < {N_QUERIES}),
cand AS (SELECT vec_id AS c_id, c AS cc, {self_dot} AS cn2 FROM {codes}),
scored AS (
    SELECT q_id, c_id, ROUND({cos}, 4) AS cos_sim
    FROM cand CROSS JOIN q
    WHERE q_id <> c_id
)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT q_id, c_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""
    )


register_df(
    "ann_sq8_topk",
    _ann_sq8_spark,
    oracle_body=_ann_sq8(dl.DUCK),
    doc="Int8 scalar-quantized cosine top-k: per-vector scales cancel in "
    "cosine, so ranking runs on exact BIGINT dot products (8x smaller "
    "candidate scan; exact oracle despite quantization). Codes are a "
    "session matview (encode-at-ingest) — the per-query encode pass that "
    "made SQ8 slower than brute force at bench scale is paid once.",
    bench=True,
)


# ---------------------------------------------------------------------------
# Product quantization (PQ, Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): the high-compression scale path. Each
# vector is split into PQ_M subspaces; each subspace gets a K-codeword
# codebook; a vector's code is its per-subspace nearest codeword, so
# storage is PQ_M*log2(K) bits instead of dim*32. Query-time ranking is
# ADC: one |query|×M×K lookup table of subspace distances, then each
# candidate's approximate distance is a SUM over its M table entries — the
# candidate scan never touches a float vector.
#
# Everything is deterministic and integer-exact so the DuckDB oracle
# REPLAYS the whole index build: vectors quantize to a fixed 1e4 grid
# (BIGINT), codebooks init from the K lowest-md5(vec_id||m) subvectors
# (seeded sample, different per subspace), and ONE Lloyd refinement step is
# unrolled in SQL (assign → per-dimension mean). All distances are
# integer-valued (computed as dot(a,a)-2dot(a,b)+dot(b,b) over BIGINTs, far
# below 2^53), so argmin and ranking have no float-fold ambiguity; the only
# rounding is the centroid mean, shared by both engines.
#
# Fixture recall@5 vs brute force is ~0.48 — near-orthogonal random
# vectors are PQ's worst case (subspace distances carry little signal);
# recall climbs with K (0.80 at K=256 here) and is far higher on real
# clustered embeddings. The pytest floor pins the fixture number.
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 64  # codewords per subspace → 16 x 6 bits = 12 bytes/vector (21x)


def _pq_dist(dot_pair, q: str = "s", c: str = "c") -> str:
    """Exact integer squared-L2 via precomputed norms: n2 - 2*dot + cn2.

    One dot product per candidate pair instead of three folds — the norms
    are computed once per subvector/codeword, not once per pair. The pair
    dot is dialect-tuned: Spark higher-order functions (aggregate/
    zip_with) are CodegenFallback — interpreted per row — so the hot
    N*M*K loop unrolls the {PQ_SUB}-element product into plain codegen
    arithmetic; DuckDB keeps its native list_dot_product."""
    return f"{q}.n2 - 2 * ({dot_pair(f'{q}.sv', f'{c}.cw')}) + {c}.cn2"


# Offset making the packed cell-argmin key strictly positive: the
# relative L2 rank rel = cn2 - 2*dot is bounded by |rel| <= 3 * 64 * 1e8
# ≈ 2e10 on quantized (×1e4, |x|<=1) 64-dim vectors; 2^36 ≈ 6.9e10 gives
# a 3× margin, and (rel + OFF) * N_CELLS + cell stays far under 2^53.
IVF_OFF = 1 << 36


def _ann_pq(
    d: str,
    ivf: bool = False,
    views: tuple[str, str, str] = ("pq_cb", "pq_codes", "ivfpq_cents"),
    n_cells: int | None = None,
    n_probe: int | None = None,
    shared: bool = False,
    probes_rows: list[tuple[int, int]] | None = None,
):
    """PQ / IVF-PQ ANN SQL generator (see the register_df docstrings).

    ``n_cells``/``n_probe`` override the module defaults for the IVF
    layer — cells should track ~sqrt(|corpus|), so a larger corpus wants
    more, finer cells (the stress lane's 10x crossover uses 128/32 for a
    ~25% scan fraction). The registered entries keep the defaults the
    DuckDB oracle replays.

    Spark runs three stages mirroring a real vector store's lifecycle —
    train (codebook, bounded collect), encode (code table, materialized
    once per (session, table) by ``_pq_index``), search (LUT + ADC
    against the materialized codes) — returning one SQL string per
    stage; ``views`` names the (codebook, codes, centroids) temp views
    the stages hand results through. DuckDB replays the whole lifecycle
    as ONE statement, so the oracle stays a pure value-level check.
    """
    nc = N_CELLS if n_cells is None else n_cells
    npb = N_PROBE if n_probe is None else n_probe
    if d == dl.SPARK:
        quant = (
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(ROUND(x * 10000) AS BIGINT))"
        )
        sub = f"slice(w, m * {PQ_SUB} + 1, {PQ_SUB})"
        ms = f"(SELECT explode(sequence(0, {PQ_M - 1})) AS m)"

        def dot(a: str, b: str) -> str:
            return (
                f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )

        unpack = (
            f"SELECT m, k, pos + 1 AS dim, v FROM asn "
            f"LATERAL VIEW posexplode(sv) pe AS pos, v"
        )
        repack = "transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)"

        def dot_pair(a: str, b: str) -> str:
            # Spark array indexing is 0-based; stays inside WholeStageCodegen.
            return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(PQ_SUB))

        def argmin(src: str, out: str, keep_sv: bool) -> str:
            # Partial-aggregable argmin over the N*M*K pair set. A
            # min(struct(dist, k)) would express the same (dist ASC, k
            # ASC) tie-break but structs have no mutable agg buffer —
            # Spark plans a SortAggregate that sorts all pairs. Packing
            # the pair into ONE BIGINT (dist * K + (k-1); exact: dist <=
            # 4*(1e5)^2 and k-1 < K) is order-isomorphic to (dist, k) and
            # keeps the argmin a codegen HashAggregate with a map-side
            # partial before the (vec_id, m) shuffle.
            g = (
                f"SELECT s.vec_id, s.m, "
                f"min(({_pq_dist(dot_pair)}) * {PQ_K} + (c.k - 1)) % {PQ_K} + 1 AS k "
                f"FROM subs s JOIN {src} c ON s.m = c.m "
                f"GROUP BY s.vec_id, s.m"
            )
            if not keep_sv:
                return f"{out} AS (SELECT vec_id AS c_id, m, k AS code FROM ({g}) t)"
            return (
                f"{out} AS (SELECT t.vec_id, t.m, s2.sv, t.k "
                f"FROM ({g}) t JOIN subs s2 "
                f"ON t.vec_id = s2.vec_id AND t.m = s2.m)"
            )

    else:
        quant = (
            "list_transform(CAST(embedding AS DOUBLE[]), "
            "x -> CAST(ROUND(x * 10000) AS BIGINT))"
        )
        sub = f"list_slice(w, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB})"
        ms = f"(SELECT UNNEST(range({PQ_M})) AS m)"

        def dot(a: str, b: str) -> str:
            return f"list_dot_product({a}, {b})"

        dot_pair = dot
        dot_whole = dot

        unpack = (
            f"SELECT m, k, UNNEST(range(1, {PQ_SUB} + 1)) AS dim, UNNEST(sv) AS v "
            f"FROM asn"
        )
        repack = "list(cv ORDER BY dim)"

        def argmin(src: str, out: str, keep_sv: bool) -> str:
            # Same packed-BIGINT argmin as the Spark branch (dist * K +
            # (k-1), exact, order-isomorphic to (dist ASC, k ASC)): a
            # GROUP BY hash-agg min over the N*M*K pair set instead of a
            # ROW_NUMBER window — the window SORTED the whole pair set
            # and was 33 s of the sf1 soak's DuckDB side (r11).
            g = (
                f"SELECT s.vec_id, s.m, "
                f"min(({_pq_dist(dot_pair)}) * {PQ_K} + (c.k - 1)) % {PQ_K} + 1 AS k "
                f"FROM subs s JOIN {src} c ON s.m = c.m "
                f"GROUP BY s.vec_id, s.m"
            )
            if not keep_sv:
                return f"{out} AS (SELECT vec_id AS c_id, m, k AS code FROM ({g}) t)"
            return (
                f"{out} AS (SELECT t.vec_id, t.m, s2.sv, t.k "
                f"FROM ({g}) t JOIN subs s2 "
                f"ON t.vec_id = s2.vec_id AND t.m = s2.m)"
            )

    seed = "md5(CAST(vec_id AS STRING) || '-' || CAST(m AS STRING))"
    base = f"""
WITH emb AS (SELECT vec_id, {quant} AS w FROM embeddings),
subs0 AS (
    SELECT vec_id, m, {sub} AS sv
    FROM emb CROSS JOIN {ms}
),
subs AS (SELECT vec_id, m, sv, {dot('sv', 'sv')} AS n2 FROM subs0)"""
    train_ctes = f"""cb0 AS (
    SELECT m, cw, {dot('cw', 'cw')} AS cn2, k FROM (
        SELECT m, sv AS cw,
               CAST(ROW_NUMBER() OVER (PARTITION BY m ORDER BY {seed}, vec_id)
                    AS BIGINT) AS k
        FROM subs0) t
    WHERE k <= {PQ_K}
),
{argmin('cb0', 'asn', keep_sv=True)},
cbm AS (
    SELECT m, k, dim, CAST(ROUND(AVG(v)) AS BIGINT) AS cv
    FROM ({unpack}) u
    GROUP BY m, k, dim
),
cbw AS (SELECT m, k, {repack} AS cw FROM cbm GROUP BY m, k),
cb AS (SELECT m, k, cw, {dot('cw', 'cw')} AS cn2 FROM cbw)"""
    train = f"""{base},
{train_ctes}"""

    # IVF coarse layer (ivf=True): every vector's home cell is the
    # squared-L2-nearest of N_CELLS centroids (the deterministic corpus
    # sample the IVF path uses); queries probe their N_PROBE nearest
    # cells, and the ADC join below scores ONLY (query, candidate) pairs
    # meeting through a probed cell — at 100 TB the codes table is
    # partitioned by cell and the scan prunes to ~N_PROBE/N_CELLS of it.
    # For a fixed vector argmin_cell(n2 - 2*dot + cn2) = argmin(cn2 -
    # 2*dot) (n2 is constant), all-BIGINT on the quantized vectors, so
    # the packed-argmin trick stays exact and the oracle replays it
    # bit-identically. This is FAISS's IVFPQ with by_residual=False: PQ
    # codes encode the raw vector, cells only prune.
    cb_view, codes_view, cents_view = views
    if ivf and d == dl.SPARK:
        # Spark IVF-PQ stages. Encode (run once at index build)
        # materializes the cell-tagged code table: the plain PQ encode
        # argmin joined with a cell map computed against the 16-row
        # centroid view (broadcast nested loop over a constant side —
        # the same CROSS_BY_DESIGN shape as the whole ANN family).
        # Search reads the materialized codes and adds only the
        # N_QUERIES*N_PROBE-row probe list; the ADC join prunes ON cell
        # before scoring.
        encode = f"""{base},
{argmin(cb_view, 'codes0', keep_sv=False)},
cellmap AS (
    SELECT e.vec_id AS c_id,
           CAST(MIN((c.cn2 - 2 * ({dot('e.w', 'c.cw')}) + {IVF_OFF})
                    * {nc} + c.cell) % {nc} AS INT) AS cell
    FROM emb e CROSS JOIN {cents_view} c GROUP BY e.vec_id
)
SELECT codes0.c_id, codes0.m, codes0.code, cellmap.cell
FROM codes0 JOIN cellmap ON codes0.c_id = cellmap.c_id"""
        if probes_rows is None:
            # distributed probe routing — the shape for a query BATCH too
            # large to route at the coordinator (the registered entry and
            # the stress lanes route driver-side instead; see
            # _route_probes)
            ivf_ctes = f""",
probes AS (
    SELECT vec_id AS q_id, cell FROM (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY c.cn2 - 2 * ({dot('e.w', 'c.cw')}) ASC,
                                           c.cell ASC) AS rn
        FROM emb e CROSS JOIN {cents_view} c
        WHERE e.vec_id < {N_QUERIES}) t
    WHERE rn <= {npb}
)"""
        elif probes_rows:
            vals = ", ".join(f"({q}, {c})" for q, c in probes_rows)
            ivf_ctes = f""",
probes AS (SELECT CAST(q_id AS BIGINT) AS q_id, CAST(cell AS INT) AS cell
           FROM VALUES {vals} AS pr(q_id, cell))"""
        else:  # no query vectors in the table: empty probe list
            ivf_ctes = """,
probes AS (SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS INT) AS cell
           WHERE 1 = 0)"""
        # probes (|queries| x n_probe) and lut (|queries| x M x K) are
        # query-batch-bounded — broadcast them so the corpus-scale codes
        # scan never shuffles: without the hints Catalyst sees no stats
        # on the matviewed code table and plans two SortMergeJoins
        # (measured 1.12s -> 0.88s at sf0.1 from the hints alone)
        scored = f"""
scored AS (
    SELECT /*+ BROADCAST(p), BROADCAST(lut) */
           p.q_id, codes.c_id, CAST(SUM(lut.d) AS BIGINT) AS approx_dist
    FROM {codes_view} codes JOIN probes p ON codes.cell = p.cell
    JOIN lut ON lut.q_id = p.q_id AND lut.m = codes.m AND lut.k = codes.code
    WHERE p.q_id <> codes.c_id
    GROUP BY p.q_id, codes.c_id
)"""
    elif ivf:
        ivf_ctes = f""",
embn AS (SELECT vec_id, w, {dot_whole('w', 'w')} AS n2 FROM emb),
cents AS (
    SELECT vec_id - {N_QUERIES} AS cell, w AS cw, n2 AS cn2
    FROM embn WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + nc}
),
celld AS (
    SELECT e.vec_id, c.cell, c.cn2 - 2 * ({dot_whole('e.w', 'c.cw')}) AS rel
    FROM embn e CROSS JOIN cents c
),
home AS (
    SELECT vec_id AS c_id,
           CAST(MIN((rel + {IVF_OFF}) * {nc} + cell) % {nc} AS BIGINT)
               AS cell
    FROM celld GROUP BY vec_id
),
probes AS (
    SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY rel ASC, cell ASC) AS rn
        FROM celld WHERE vec_id < {N_QUERIES}) t
    WHERE rn <= {npb}
),
cand AS (
    SELECT p.q_id, h.c_id FROM probes p JOIN home h ON p.cell = h.cell
    WHERE p.q_id <> h.c_id
)"""
        scored = f"""
scored AS (
    SELECT cand.q_id, cand.c_id, CAST(SUM(lut.d) AS BIGINT) AS approx_dist
    FROM cand
    JOIN codes ON codes.c_id = cand.c_id
    JOIN lut ON lut.q_id = cand.q_id AND lut.m = codes.m AND lut.k = codes.code
    GROUP BY cand.q_id, cand.c_id
)"""
    else:
        ivf_ctes = ""
        src = f"{codes_view} codes" if d == dl.SPARK else "codes"
        # same broadcast rationale as the IVF branch: lut is
        # query-batch-bounded, the codes scan is the corpus-scale side
        hint = "/*+ BROADCAST(lut) */ " if d == dl.SPARK else ""
        scored = f"""
scored AS (
    SELECT {hint}lut.q_id, codes.c_id, CAST(SUM(lut.d) AS BIGINT) AS approx_dist
    FROM {src} JOIN lut ON codes.m = lut.m AND codes.code = lut.k
    WHERE lut.q_id <> codes.c_id
    GROUP BY lut.q_id, codes.c_id
)"""

    def lut_tail(cb_src: str) -> str:
        return f"""
lut AS (
    SELECT s.vec_id AS q_id, s.m, c.k,
           CAST({_pq_dist(dot_pair, q='s', c='c')} AS BIGINT) AS d
    FROM subs s JOIN {cb_src} c ON s.m = c.m
    WHERE s.vec_id < {N_QUERIES}
),{scored}
SELECT q_id, c_id, approx_dist, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT q_id, c_id, approx_dist,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY approx_dist ASC, c_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""

    def query(prefix: str, cb_src: str) -> str:
        # Spark reads the materialized codes view (built once by
        # _pq_index); DuckDB derives codes inline in one statement
        codes_cte = (
            ""
            if d == dl.SPARK
            else "\n" + argmin(cb_src, "codes", keep_sv=False) + ","
        )
        return f"{prefix}{ivf_ctes},{codes_cte}{lut_tail(cb_src)}"

    if shared:
        # DuckDB-only factoring of the shared PQ lifecycle into temp
        # tables (VERDICT r9 item 8): the sf1 soak was re-running the
        # identical quantization + codebook training + encode for BOTH
        # pq and ivfpq oracles — 60% of its wall. The setup statements
        # are assembled from the SAME text fragments the self-contained
        # oracle uses (base/train_ctes/argmin), and the soak pins
        # value-equality of this composition against the registered
        # oracle before trusting it.
        if d == dl.SPARK:
            raise ValueError("shared=True is the DuckDB oracle path only")
        setup = [
            f"CREATE TEMP TABLE emb AS SELECT vec_id, {quant} AS w FROM embeddings",
            f"CREATE TEMP TABLE subs AS WITH subs0 AS (\n"
            f"    SELECT vec_id, m, {sub} AS sv\n"
            f"    FROM emb CROSS JOIN {ms}\n"
            f") SELECT vec_id, m, sv, {dot('sv', 'sv')} AS n2 FROM subs0",
            f"CREATE TEMP TABLE cb AS WITH subs0 AS "
            f"(SELECT vec_id, m, sv FROM subs),\n{train_ctes}\n"
            f"SELECT m, k, cw, cn2 FROM cb",
            f"CREATE TEMP TABLE codes AS WITH "
            f"{argmin('cb', 'codes_cte', keep_sv=False)}\n"
            f"SELECT c_id, m, code FROM codes_cte",
        ]
        head = "WITH " + (
            ivf_ctes.lstrip().lstrip(",").strip() + "," if ivf else ""
        )
        return setup, head + lut_tail("cb")

    if d == dl.SPARK:
        # Staged: Spark inlines CTEs, so a single statement would
        # recompute the expensive training assign once per `cb` reference
        # (codes + lut). Materializing the K*M-row codebook is the same
        # bounded index-training collect the IVF path documents.
        train_sql = train + "\nSELECT m, k, cw, cn2 FROM cb"
        if not ivf:
            encode = f"""{base},
{argmin(cb_view, 'codes0', keep_sv=False)}
SELECT c_id, m, code FROM codes0"""
        return train_sql, encode, query(base, cb_view)
    return query(train, "cb")


class _PQIndex(NamedTuple):
    """The PQ index of one (session, table, ivf, n_cells), store kind
    "pq_index": built ONCE, reused by later searches — the lifecycle
    every vector store runs (FAISS train/add vs search)."""

    #: (codebook, encoded code table, coarse centroids) temp views
    views: tuple[str, str, str]
    #: IVF only, driver-side for coordinator probe routing: [(cell, cw,
    #: cn2)] coarse centroids and [(vec_id, w)] quantized query vectors —
    #: index-training-bounded (N_CELLS and N_QUERIES rows)
    cents: list
    queries: list


def _route_probes(index: _PQIndex, npb: int) -> list[tuple[int, int]]:
    """Coordinator-side IVF probe routing: for each cached query vector,
    the ``npb`` squared-L2-nearest coarse cells, as (q_id, cell) rows.

    This is where FAISS/Milvus run the coarse quantizer — at the
    client/coordinator against the O(sqrt(corpus))-row centroid table —
    not as a distributed job: the routing input is |query_batch| x
    N_CELLS (10 x 16 here, bounded by module constants), and shipping it
    through Spark cost a BroadcastNestedLoopJoin + window + exchange
    chain per search (~0.2s of the r13 bench's 1.08s) to rank 160 rows.
    Exactness: the cached centroids/queries were quantized by the SAME
    SQL expression the oracle replays, and pure-Python ints reproduce
    the BIGINT rel = cn2 - 2*dot with the identical (rel ASC, cell ASC)
    tie-break, so the probe set matches the distributed form (and the
    DuckDB oracle) bit-for-bit — pinned by
    test_ivfpq_driver_routing_matches_distributed. The distributed SQL
    form stays available (probes_rows=None) for a query batch too large
    to route at the coordinator."""
    out: list[tuple[int, int]] = []
    for q_id, w in index.queries:
        rel = sorted(
            (cn2 - 2 * sum(a * b for a, b in zip(w, cw)), cell)
            for cell, cw, cn2 in index.cents
        )
        out.extend((q_id, cell) for _, cell in rel[:npb])
    return out


def _pq_index(
    spark,
    sf_dir: str,
    ivf: bool,
    n_cells: int | None = None,
    n_probe: int | None = None,
) -> _PQIndex:
    """This session's PQ index over ``sf_dir``, built on first use and
    bounded, evicted and released by the session store like a matview
    (so catalog.invalidate drops it on a same-path rewrite, ADVICE r9).
    Unique per-build view names keep a session that switches sf_dirs
    from reading a stale index."""
    key = ("pq_index", sf_dir, bool(ivf), N_CELLS if n_cells is None else n_cells)
    hit = _catalog.entry(spark, *key)
    if hit is not None:
        return hit.value
    nc = key[-1]
    _catalog.make_room(spark)
    prefix = _catalog.view_prefix("ivfpq_" if ivf else "pq_")
    views = (f"{prefix}_cb", f"{prefix}_codes", f"{prefix}_cents")
    frames = []

    def pin(df, view: str) -> None:
        # materialize under the session-wide reliability knob and hold
        # the frame so releasing the entry can free its blocks
        frames.append(_catalog.materialize(spark, df))
        frames[-1].createOrReplaceTempView(view)

    cent_rows: list = []
    queries: list = []
    if ivf:
        # IVF_OFF's packed-argmin positivity needs |component| <= ~1.8
        # (|rel| <= 1.92e10 * m^2 must stay under 2^36); embeddings past
        # that silently wrap the packed key negative and candidates
        # vanish — fail loudly at index build instead (one bounded
        # scalar agg, index-training-class cost)
        mx = spark.sql(
            "SELECT MAX(aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> abs(x)), 0D, (a, b) -> greatest(a, b))) AS m FROM embeddings"
        ).first()["m"]
        if mx is not None and mx > 1.8:
            raise ValueError(
                f"IVF-PQ packed argmin needs |embedding components| <= 1.8 "
                f"(got max {mx:.3f}): raise IVF_OFF or normalize the vectors"
            )
        # coarse centroids: N_CELLS quantized corpus rows + their norms —
        # bounded index-training collect, exactly ann_ivf's sample
        cents = spark.sql(
            f"SELECT CAST(vec_id - {N_QUERIES} AS INT) AS cell, "
            f"transform(CAST(embedding AS ARRAY<DOUBLE>), "
            f"x -> CAST(ROUND(x * 10000) AS BIGINT)) AS cw FROM embeddings "
            f"WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + nc}"
        ).collect()
        cent_rows = [
            (r["cell"], list(r["cw"]), sum(x * x for x in r["cw"])) for r in cents
        ]
        # materialize: a bare createDataFrame leaves applySchemaToPythonRDD
        # lineage, so EVERY search re-runs the Python->JVM row conversion
        # (a Python worker round-trip per action — r15 probe); checkpointing
        # pins the 16 rows as JVM blocks once at index build
        pin(
            spark.createDataFrame(cent_rows, "cell int, cw array<bigint>, cn2 bigint"),
            views[2],
        )
        # keep centroids + quantized queries driver-side for coordinator
        # probe routing (_route_probes); the query vectors are quantized
        # by the SAME SQL expression the index/oracle use, so routing
        # arithmetic can never diverge on a rounding rule
        queries = [
            (r["vec_id"], list(r["w"]))
            for r in spark.sql(
                f"SELECT vec_id, transform(CAST(embedding AS ARRAY<DOUBLE>), "
                f"x -> CAST(ROUND(x * 10000) AS BIGINT)) AS w FROM embeddings "
                f"WHERE vec_id < {N_QUERIES}"
            ).collect()
        ]
    train_sql, encode_sql, _ = _ann_pq(
        dl.SPARK, ivf=ivf, views=views, n_cells=n_cells, n_probe=n_probe
    )
    cb = spark.sql(train_sql)
    # K*M = 1024 rows — index training, not data-scale; broadcast-joined
    # into the encode and LUT stages. Materialized (JVM blocks): without
    # it the view scans applySchemaToPythonRDD lineage and every search
    # pays a Python worker round-trip to re-deserialize the codebook.
    pin(spark.createDataFrame(cb.collect(), cb.schema), views[0])
    # materialize the (cell-tagged) code table — the index-persist step;
    # keeps the encode argmin out of search plans. Pinning strategy is
    # the session-wide matview knob (catalog.materialize): local
    # checkpoint on local[*]; reliable checkpoint / replicated persist on
    # a cluster, where one lost executor must not strand the index.
    pin(spark.sql(encode_sql), views[1])
    index = _PQIndex(views, cent_rows, queries)
    _catalog.store(spark, key, index, views=views, frames=frames)
    return index


def _ann_pq_spark(spark, sf_dir) -> DataFrame:
    index = _pq_index(spark, sf_dir, ivf=False)
    _, _, query_sql = _ann_pq(dl.SPARK, views=index.views)
    return spark.sql(query_sql)


def _ann_ivfpq_spark(spark, sf_dir) -> DataFrame:
    index = _pq_index(spark, sf_dir, ivf=True)
    _, _, query_sql = _ann_pq(
        dl.SPARK,
        ivf=True,
        views=index.views,
        probes_rows=_route_probes(index, N_PROBE),
    )
    return spark.sql(query_sql)


def index_content_fingerprint(spark, sf_dir: str) -> str:
    """Value-level checksum of the PQ-family index state this session
    holds for ``sf_dir`` — codebook, encoded code table and coarse
    centroids, for both the plain-PQ and default-geometry IVF-PQ
    entries when built (entries not yet built contribute nothing).

    Purpose (VERDICT r8 item 4): the bench's plan fingerprint proves
    the SHAPE of a query was unchanged across rounds, but the PQ search
    plans read session-built temp views, whose CONTENT the plan hash
    cannot see. The index build is deterministic by construction
    (md5-seeded codebook init, integer-exact Lloyd step), so this
    checksum should be constant on fixed data — recording it makes that
    an artifact-checkable fact: a cross-round wall swing with identical
    plan AND identical index content (and clean canaries) has no
    code-side input left to blame, which is what lets the drift
    classifier stamp ``environment`` instead of ``regressed-same-plan``.
    Cost: one bounded agg per index view (codebook K*M rows, centroids
    N_CELLS rows, codes |corpus| rows — the same order as one ADC scan),
    run once per bench round, not per measurement."""
    import hashlib

    parts: list[str] = []
    for ivf in (False, True):
        built = _catalog.entry(spark, "pq_index", sf_dir, ivf, N_CELLS)
        if built is None:
            continue
        for role, v in zip(("cb", "codes", "cents"), built.views):
            if not ivf and role == "cents":
                continue  # plain PQ registers no centroid view
            r = spark.sql(
                f"SELECT COUNT(*) AS c, SUM(CAST(hash(*) AS BIGINT)) AS h "
                f"FROM {v}"
            ).first()
            parts.append(f"{int(ivf)}:{role}:{r['c']}:{r['h']}")
    return hashlib.sha1("|".join(parts).encode()).hexdigest()[:12]


def ann_ivfpq_topk_at(
    spark, sf_dir: str, *, n_cells: int, n_probe: int
) -> DataFrame:
    """IVF-PQ search with scale-appropriate cell/probe counts — the
    knob the 10x stress crossover turns (cells should track
    ~sqrt(|corpus|); the registered ``ann_ivfpq_topk`` keeps the
    oracle-replayed defaults). Same lifecycle: the (session, table,
    n_cells)-keyed index builds once, searches reuse it."""
    from .. import catalog

    # register_all pins the session's `embeddings` view to THIS sf_dir
    # before index build/search — without it a fresh session fails to
    # resolve the view and a session registered to a different dir would
    # silently index the wrong table (round-7 review finding).
    catalog.register_all(spark, sf_dir)
    index = _pq_index(spark, sf_dir, ivf=True, n_cells=n_cells, n_probe=n_probe)
    _, _, query_sql = _ann_pq(
        dl.SPARK,
        ivf=True,
        views=index.views,
        n_cells=n_cells,
        n_probe=n_probe,
        probes_rows=_route_probes(index, n_probe),
    )
    return spark.sql(query_sql)


register_df(
    "ann_pq_topk",
    _ann_pq_spark,
    oracle_body=_ann_pq(dl.DUCK),
    doc="Product-quantized ANN top-k (ADC scoring): 16 subspaces x 64 "
    "codewords, md5-seeded codebook init + one unrolled Lloyd step, all "
    "integer-exact so the oracle replays the index build bit-identically. "
    "The candidate scan reads 12-byte codes, never float vectors — the "
    "~21x-compression scale path; ann_ivfpq_topk adds the IVF cell "
    "pruning that bounds this entry's full-corpus ADC scan at 100 TB.",
    bench=True,
)


register_df(
    "ann_ivfpq_topk",
    _ann_ivfpq_spark,
    oracle_body=_ann_pq(dl.DUCK, ivf=True),
    doc="IVF-PQ ANN top-k (FAISS IVFPQ, by_residual=False): coarse "
    "squared-L2 cells prune candidates to the query's N_PROBE probed "
    "cells BEFORE the ADC join, so the 12-byte-code scan reads "
    "~N_PROBE/N_CELLS of the corpus instead of all of it — the missing "
    "composition VERDICT r5 flagged on ann_pq_topk. Integer-exact "
    "end-to-end (quantized vectors, packed argmins), so the DuckDB "
    "oracle replays cells + codebook + codes bit-identically. r14: "
    "probe routing runs at the coordinator against the cached centroid "
    "table (_route_probes — bit-equal to the distributed form, pinned "
    "by test), and the query-batch-bounded probes/LUT sides are "
    "broadcast into the corpus-scale codes scan (was 2 SortMergeJoins; "
    "1.08s -> 0.65s at sf0.1). The r13-suggested 128/32 geometry was "
    "measured and REJECTED at registry scale: recall_vs_pq 0.60-0.64 "
    "(< the 0.9 floor the suggestion set) for ~0.08s — the win was "
    "join strategy, not geometry; the scaled stress lane keeps 128/32 "
    "where its corpus is big enough to feed 128 cells.",
    bench=True,
)


def _ann_ivfpq_auto_spark(spark, sf_dir) -> DataFrame:
    _catalog.register_all(spark, sf_dir)
    n = (
        spark.table("embeddings")
        .where(F.col("vec_id") >= N_QUERIES)
        .count()
    )
    cells, probe = auto_ivf_geometry(n)
    return ann_ivfpq_topk_at(spark, sf_dir, n_cells=cells, n_probe=probe)


register_df(
    "ann_ivfpq_auto",
    _ann_ivfpq_auto_spark,
    # The fixture corpus (sf0.01: 490 vectors) is below N_IVF_MIN, so
    # auto_ivf_geometry resolves to (16, 16) — probe-all, exact ADC —
    # and the static oracle replays exactly that geometry. The driver's
    # correctness gate runs at sf0.01 by contract; at bench/stress scale
    # only walls are compared, so the runtime-derived geometry cannot
    # diverge from an oracle there.
    oracle_body=_ann_pq(dl.DUCK, ivf=True, n_cells=16, n_probe=16),
    doc="IVF-PQ ANN top-k with corpus-derived geometry (VERDICT r14 #3): "
    "cells = 2^round(log2(sqrt(N))) keeps the centroid table at the "
    "O(sqrt(corpus)) bound the coordinator probe routing assumes, probe "
    "= cells/4 above N_IVF_MIN (reproducing the hand-tuned 128/32 and "
    "256/64 stress geometries exactly), and small corpora probe every "
    "cell — measured r15: pruned probing at N <= 2k reads recall_vs_pq "
    "0.32-0.58, far under the 0.9 floor, so the honest small-N answer "
    "is the exact full-ADC scan. The registered ann_ivfpq_topk keeps "
    "its fixed oracle-replayed defaults; this twin is the "
    "no-knobs-to-tune entry a pipeline points at a growing corpus.",
)


def stream_ann_probe(
    spark,
    queries_path: str,
    index_path: str,
    out_path: str,
    *,
    checkpoint: str,
    files_per_trigger: int = 4,
    timeout_s: int = 300,
    exclude_self: bool = True,
) -> None:
    """The serving loop's other half: QUERY embeddings arrive as a stream
    and probe the persisted LSH index per micro-batch via
    ``query_lsh_index`` inside foreachBatch, appending per-query top-k
    rows to ``out_path``. Combined with stream_lsh_index_build this is
    ingest-and-serve with all state on storage: new vectors append to the
    index, query traffic reads whatever index version each batch sees
    (snapshot-per-batch semantics — a probe never observes a half-written
    index file thanks to parquet's atomic task commits). Results land in
    a sink, never the driver (the datasink contract,
    flock/src/datasink/mod.rs:118-140); per-batch cost is the batch's
    bucket slices only, so query throughput is independent of corpus
    size. Results partition by the firing epoch and each batch
    dynamically overwrites its own partition, so an at-least-once replay
    converges instead of appending duplicates; read results with
    ``.drop("_epoch")``. ``exclude_self`` as query_lsh_index: True for
    corpus-row queries (the parity test), False for an independent query
    id-space. Test asserts stream==batch verdict parity per query batch.
    """
    from .. import streaming as st

    stream = st.replay_stream(spark, queries_path, files_per_trigger=files_per_trigger)
    if "epoch" in stream.columns:
        stream = stream.drop("epoch")

    def probe(df, epoch_id):
        res = query_lsh_index(
            df.sparkSession, index_path, df, exclude_self=exclude_self
        )
        # idempotent under at-least-once replay: each batch OVERWRITES its
        # own _epoch partition (dynamic mode), so a batch re-run after a
        # crash-before-checkpoint replaces its rows instead of doubling
        # them; readers drop the bookkeeping column
        (
            res.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )

    q = st.foreach_batch_sink(stream, probe, checkpoint=checkpoint)
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"ANN probe stream still running after {timeout_s}s")


#: Variants measured by ann_recall_report, in declaration order.
_RECALL_VARIANTS = ["lsh", "ivf", "sq8", "pq", "ivfpq"]


def _ann_recall_report(spark, sf_dir) -> DataFrame:
    """Recall@k of every approximate ANN variant against the brute-force
    cosine ground truth, one row per variant — lsh_quality_report's
    contract-as-a-measured-row idea applied to the embedding index
    family (FAISS-style index evaluation, run as a query over the same
    deterministic pipelines, so the report itself is value-oracled).

    This is the number an index-selection decision actually consumes:
    the 10x stress lane records the ivfpq/pq LATENCY crossover, this
    entry records what each variant's pruning GIVES UP at the current
    corpus, per snapshot — recall regressions from a re-trained
    codebook or re-drawn planes show up as a value diff here, not as a
    silent quality drop in production.

    Scale shape: each variant's plan is unchanged (this just unions
    their top-k outputs, 50 rows each); the join against truth is
    broadcast-sized (N_QUERIES x TOP_K rows) and the grand total is a
    1-row cross join, so the report costs the sum of its inputs and
    adds no new wide shuffle.
    """
    from functools import reduce

    truth = _ann_brute(spark, sf_dir).select("q_id", "c_id")
    variant_dfs = {
        "lsh": _ann_lsh(spark, sf_dir),
        "ivf": _ann_ivf(spark, sf_dir),
        "sq8": _ann_sq8_spark(spark, sf_dir),
        "pq": _ann_pq_spark(spark, sf_dir),
        "ivfpq": _ann_ivfpq_spark(spark, sf_dir),
    }
    found = reduce(
        lambda a, b: a.unionAll(b),
        [
            df.select(F.lit(name).alias("variant"), "q_id", "c_id")
            for name, df in variant_dfs.items()
        ],
    )
    tot = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    hits = (
        found.join(truth, ["q_id", "c_id"])
        .groupBy("variant")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    names = spark.createDataFrame(
        [(v,) for v in _RECALL_VARIANTS], "variant string"
    )
    return (
        names.crossJoin(F.broadcast(tot))
        .join(hits, "variant", "left")
        .select(
            "variant",
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            # n_truth = N_QUERIES x TOP_K = 50, so the ratio has <= 2
            # decimal digits — no 4-dp midpoint, both engines' double
            # rounding agrees. Recall over ZERO truth pairs is
            # undefined, not a crash (r12 degenerate probe: a corpus
            # too small/corrupt for any brute-force pair).
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    F.coalesce("n_hit", F.lit(0)) * 1.0 / F.col("n_truth"), 4
                ),
            ).alias("recall"),
        )
    )


def _ann_recall_report_oracle() -> str:
    variant_bodies = {
        "lsh": _ann_lsh_oracle(),
        "ivf": _ann_ivf_oracle(),
        "sq8": _ann_sq8(dl.DUCK),
        "pq": _ann_pq(dl.DUCK),
        "ivfpq": _ann_pq(dl.DUCK, ivf=True),
    }
    found_union = "\n    UNION ALL\n".join(
        f"SELECT '{name}' AS variant, q_id, c_id FROM f_{name}"
        for name in _RECALL_VARIANTS
    )
    names_values = ", ".join(f"('{v}')" for v in _RECALL_VARIANTS)
    # each variant's full oracle nests as its own subquery scope, so
    # their internal CTE names cannot collide
    variant_ctes = ",\n".join(
        f"f_{name} AS (SELECT q_id, c_id FROM ({body}\n) AS sub_{name})"
        for name, body in variant_bodies.items()
    )
    return f"""
WITH truth AS (
    SELECT q_id, c_id FROM ({_ANN_ORACLE}) t
),
{variant_ctes},
found AS (
    {found_union}
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
hits AS (
    SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM found JOIN truth USING (q_id, c_id)
    GROUP BY variant
),
names(variant) AS (VALUES {names_values})
SELECT n.variant,
       tot.n_truth,
       COALESCE(h.n_hit, 0) AS n_hit,
       CASE WHEN tot.n_truth > 0
            THEN ROUND(COALESCE(h.n_hit, 0) * 1.0 / tot.n_truth, 4)
       END AS recall
FROM names n
CROSS JOIN tot
LEFT JOIN hits h ON h.variant = n.variant
"""


register_df(
    "ann_recall_report",
    _ann_recall_report,
    oracle_body=_ann_recall_report_oracle(),
    doc="Index-quality evaluation as a query: recall@k of each ANN "
    "variant (lsh/ivf/sq8/pq/ivfpq) vs the brute-force ground truth, "
    "one value-oracled row per variant.",
)


# ---------------------------------------------------------------------------
# Embedding-space test-set decontamination
# ---------------------------------------------------------------------------

#: eval split: vec_id % DECON_EVAL_MOD == 0 (~1% of the corpus) — eval
#: benchmark sets are tiny next to a training corpus, which is exactly
#: why the broadcast plan below is the right one at 100 TB.
DECON_EVAL_MOD = 97
#: flag threshold — same working point as NEARDUP_MIN_COS on the fixture
#: embeddings (near-orthogonal synthetic vectors; the p99 cross-split
#: cosine sits just above it, so the flagged set is small but non-empty).
DECON_MIN_COS = 0.35
#: packing constants for the argmax-without-sort group-by: cosine rounded
#: to 4 decimals is shifted to a non-negative int (0..20000, 15 bits) and
#: packed above the id-complement tie-breaker.
_DECON_ID_SPAN = 1 << 32


def _decontaminate_embedding(spark, sf_dir) -> DataFrame:
    """Training vectors semantically too close to the eval split — the
    embedding-space complement of ``decontaminate_ngram_overlap``:
    n-gram decon catches verbatim leakage, this catches paraphrase-level
    leakage an exact-token scrub misses (cf. the reference's curation
    scope; this is beyond-reference LLM-pipeline surface).

    Plan: eval side (vec_id % 97 == 0, ~1%) broadcasts; train ×
    broadcast(eval) cosine; per-train argmax found with a packed-BIGINT
    MAX (map-side combine, no window sort over the cross product —
    the same trick the PQ ADC scan uses). Flagged rows only. Ties on
    cosine break to the smaller eval id via the packed id-complement.

    At 100 TB the broadcast of a few-thousand-row eval set is the plan
    you want; when the eval side outgrows broadcast, use the registered
    ``decontaminate_embedding_bucketed`` below — the same scoring over
    an LSH banded candidate join instead of the cross product.

    r15: rendered as ONE spark.sql text (the shared `_decon_score_sql`
    tail) instead of a ~15-step DataFrame chain — each DF method is a
    py4j round-trip plus an eager re-analysis of the growing plan,
    measured at 0.15-0.3 s per invocation INSIDE the bench's timed
    region (probe, guide §1.2 step 2); the SQL text is one round-trip
    and one analysis, and the physical plan (broadcast cross join +
    packed-MAX argmax) is unchanged.
    """
    emb = _emb_view(spark, sf_dir)
    _decon_guard_eval_ids(
        spark,
        sf_dir,
        f"SELECT vec_id AS eval_id FROM {emb} "
        f"WHERE nrm > 0 AND vec_id % {DECON_EVAL_MOD} = 0",
    )
    return spark.sql(f"""
WITH ev AS (
    SELECT vec_id AS eval_id, v AS ev, nrm AS en
    FROM {emb} WHERE nrm > 0 AND vec_id % {DECON_EVAL_MOD} = 0
),
tr AS (
    SELECT vec_id AS train_id, v AS tv, nrm AS tn
    FROM {emb} WHERE nrm > 0 AND vec_id % {DECON_EVAL_MOD} != 0
),
packed AS (
    SELECT /*+ BROADCAST(ev) */ train_id, {_DECON_PK_SQL}
    FROM tr CROSS JOIN ev
)
{_decon_score_sql()}
""")


def _decon_guard_eval_ids(spark, sf_dir: str, ev_ids_sql: str) -> None:
    """Fail loudly if an eval id would overflow the 32-bit pack slot.

    The packed tie-break borrows from the cosine field if an eval id
    reaches 2^32 (a multi-billion-vector corpus) — decode would then
    return a WRONG id and score silently; fail loudly instead, same
    move as the IVF packed-argmin bound above (one scalar agg over the
    ~1% eval slice, trivially bounded). ``ev_ids_sql`` is a SELECT
    producing the ``eval_id`` column — only parsed/run on a memo miss.

    Memoized per (session, dataset) in the catalog's session store (kind
    "decon_guard"): the guard asserts a DATASET invariant (max id fits
    the 32-bit pack slot), so once per (session, dataset) is exactly as
    sound as per-call, and the per-call form billed one extra Spark job
    (~0.25 s driver-side action) to EVERY decon invocation inside the
    bench's timed region (r15 probe; guide §5 — no driver actions in
    query paths). Not a result cache: nothing about the query's OUTPUT
    is memoized; a new session re-verifies from the parquet input, and
    catalog.invalidate drops the memo so a same-session in-place rewrite
    is re-checked too (ADVICE r15).
    """

    def check() -> bool:
        mx = spark.sql(f"SELECT MAX(eval_id) FROM ({ev_ids_sql})").first()[0]
        if mx is not None and mx >= _DECON_ID_SPAN - 1:
            raise ValueError(
                f"decontaminate_embedding packs eval_id into 32 bits "
                f"(got max {mx}): re-key the eval split or widen the pack"
            )
        return True

    _catalog.memo(spark, ("decon_guard", sf_dir), check)


#: Packed score (train_id, pk): cosine + eval-id in one BIGINT.
#: Canonical scaled cosine = round(cos * 10000): ONE rounding, done
#: identically in both engines — an explicit ROUND before the BIGINT
#: cast because Spark's double→bigint cast truncates while DuckDB's
#: rounds, which would put the two engines one ulp apart. Shared by the
#: broadcast and LSH-bucketed forms so their scores can never diverge
#: by formula (expression-for-expression the r12-r14 DataFrame form the
#: r15 single-SQL rewrite replaced; oracle-verified bit-identical).
_DECON_PK_SQL = (
    "(CAST(ROUND((aggregate(zip_with(tv, ev, (a, b) -> a * b), 0D, "
    "(acc, x) -> acc + x) / (tn * en)) * 10000, 0) AS BIGINT) + 10000) "
    f"* {_DECON_ID_SPAN} + ({_DECON_ID_SPAN - 1} - eval_id) AS pk"
)


def _decon_score_sql() -> str:
    """Shared argmax + decode + threshold tail over a ``packed``
    (train_id, pk) CTE, one text so the broadcast and bucketed forms
    cannot drift. Per-train argmax via MAX(pk) — map-side combine,
    idempotent to duplicate pair rows (an LSH pair colliding in several
    tables contributes the same pk each time) — decoded and
    thresholded."""
    return f""", best AS (
    SELECT train_id, MAX(pk) AS pk FROM packed GROUP BY train_id
),
decoded AS (
    SELECT train_id,
           CAST({_DECON_ID_SPAN - 1} - pk % {_DECON_ID_SPAN} AS BIGINT) AS eval_id,
           -- 10000.0D: a bare 10000.0 parses as DECIMAL(5,1) in Spark
           -- SQL and would turn cos_sim into a decimal division; the D
           -- suffix keeps the DataFrame form's double semantics
           (CAST(FLOOR(pk / {_DECON_ID_SPAN}) AS BIGINT) - 10000) / 10000.0D AS cos_sim
    FROM best
)
SELECT train_id, eval_id, cos_sim
FROM decoded WHERE cos_sim >= {DECON_MIN_COS}"""


_DECON_EMB_ORACLE = f"""
WITH ev AS (
    SELECT eval_id, ev FROM (
        SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev
        FROM embeddings WHERE vec_id % {DECON_EVAL_MOD} = 0
    ) WHERE {dl.norm_positive('ev', dl.DUCK)}
),
tr AS (
    SELECT train_id, tv FROM (
        SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS tv
        FROM embeddings WHERE vec_id % {DECON_EVAL_MOD} <> 0
    ) WHERE {dl.norm_positive('tv', dl.DUCK)}
),
packed AS (
    SELECT train_id,
           (CAST(round(list_cosine_similarity(tv, ev) * 10000, 0) AS BIGINT) + 10000)
               * {_DECON_ID_SPAN}
           + ({_DECON_ID_SPAN - 1} - eval_id) AS pk
    FROM tr CROSS JOIN ev
),
best AS (
    SELECT train_id, MAX(pk) AS pk FROM packed GROUP BY train_id
),
decoded AS (
    SELECT train_id,
           CAST({_DECON_ID_SPAN - 1} - pk % {_DECON_ID_SPAN} AS BIGINT) AS eval_id,
           ((pk // {_DECON_ID_SPAN}) - 10000) / 10000.0 AS cos_sim
    FROM best
)
SELECT train_id, eval_id, cos_sim
FROM decoded
WHERE cos_sim >= {DECON_MIN_COS}
"""


register_df(
    "decontaminate_embedding",
    _decontaminate_embedding,
    oracle_body=_DECON_EMB_ORACLE,
    doc="Embedding-space eval-set decontamination: train vectors whose max "
    "cosine vs the (broadcast) eval split >= threshold — paraphrase-level "
    "leakage the n-gram scrub misses; packed-BIGINT argmax, no window sort.",
    bench=True,
)


#: Decon LSH working point, tuned SEPARATELY from the ANN tables': the
#: decon threshold (cos 0.35, θ≈69°) is far weaker than ANN's neighbor
#: regime, so per-plane collision p = 1-θ/π ≈ 0.61 and recall needs
#: shorter keys and more tables (recall = 1-(1-p^k)^L: k=3, L=16 →
#: ~0.97 per pair at the threshold, and measured 1.0 vs the broadcast
#: form's flagged set on both fixture scales — asserted in
#: tests/test_similarity.py). The fixtures' near-orthogonal synthetic
#: vectors are the ADVERSARIAL case for hyperplane LSH: at cos 0.35 the
#: candidate join retains ~87% of the cross product here, so at this
#: working point the win is the JOIN SHAPE (shuffle on (tbl, bucket),
#: no broadcast requirement on either side), not pruning. On real
#: paraphrase-leakage corpora the operating threshold is cos ≥ 0.8
#: (p ≥ 0.80), where the same machinery prunes to ~p^k·|tr|·|ev| —
#: raise k with corpus size exactly as the ANN tables do.
DECON_LSH_PLANES = 3
DECON_LSH_TABLES = 16


def _decon_norm_view(spark, sf_dir) -> str:
    """Session matview of (vec_id, v, norm, LSH bucket keys): vectors
    cast once, norms hoisted once, and the L×k hyperplane sign-bit
    bucket keys computed once per SESSION — the index-build lifecycle
    the PQ family runs (production LSH hashes at ingest and reuses the
    keys across every decon run; re-hashing per query burned ~1 s of
    interpreted plane-dot lambdas at fixture scale). Both the skinny
    bucket tables and the pair re-join read it, so the base parquet is
    scanned exactly once."""
    planes = _planes(DECON_LSH_TABLES * DECON_LSH_PLANES)
    entries = []
    for t in range(DECON_LSH_TABLES):
        bits = []
        for j in range(DECON_LSH_PLANES):
            arr = "array(" + ",".join(
                f"{x}D" for x in planes[t * DECON_LSH_PLANES + j]
            ) + ")"
            bits.append(
                f"(CASE WHEN aggregate(zip_with(v, {arr}, (a, b) -> a * b), 0D,"
                f" (acc, x) -> acc + x) > 0 THEN {1 << j}L ELSE 0L END)"
            )
        entries.append(f"struct({t} AS tbl, ({' + '.join(bits)}) AS bucket)")
    base = _emb_view(spark, sf_dir)  # cast+norm shared with the ANN family
    return _catalog.session_matview(
        spark,
        "decon_emb_lsh",
        sf_dir,
        "SELECT vec_id, v, nrm, "
        f"array({', '.join(entries)}) AS tb "
        f"FROM {base} "
        "WHERE nrm > 0",  # zero-norm guard (dialect.norm_positive)
    )


def _decontaminate_embedding_bucketed(spark, sf_dir) -> DataFrame:
    """`decontaminate_embedding` without the broadcast requirement: the
    100 TB fallback for when the eval split itself is too large to ship
    to every executor (multi-benchmark eval suites, per-language eval
    shards). Both sides hash into L×k hyperplane-LSH (tbl, bucket) keys
    (the banded candidate-join pattern of the MinHash-LSH dedup, applied
    to the embedding column); candidates are same-bucket pairs, scored
    with the SAME shared packed-BIGINT scoring as the broadcast form
    (`_decon_pk`/`_decon_flagged`), so the two forms can only differ by
    LSH recall — which the parity test pins at 1.0 on the fixture
    working point.

    Scale shape (r12, rewritten from the first explode-the-vectors cut):
    the bucket join is SKINNY — (id, tbl, bucket) rows only, never the
    64-double vectors ×L tables (the first cut shuffled each vector 16×
    through the join, and at 100 TB the duplicated vector bytes, not the
    ids, are the shuffle bill). Candidate pairs dedup on (train_id,
    eval_id) while still skinny, then re-join the session-materialized
    norm view (`_decon_norm_view`) once per side, so each surviving pair
    scores its cosine exactly once instead of once per colliding table
    (~2.3× at the fixture working point; r15 re-measured the tradeoff —
    dropping the dedup for its Exchange read +0.2-0.25 s min/med
    interleaved, the duplicate cosines cost more than the skinny shuffle
    saves, so the dedup stays). Never |tr|×|ev| rows materialized, no
    cross product in the plan (plan-gated in tests/test_plans.py); one
    base-table scan (the matview build). r15: rendered as ONE spark.sql
    text — see `_decontaminate_embedding`; same plan topology, ~0.25 s
    less per-invocation DataFrame-API/analysis overhead.
    """
    mv = _decon_norm_view(spark, sf_dir)
    _decon_guard_eval_ids(
        spark,
        sf_dir,
        f"SELECT vec_id AS eval_id FROM {mv} "
        f"WHERE vec_id % {DECON_EVAL_MOD} = 0",
    )
    return spark.sql(f"""
WITH ev AS (
    SELECT vec_id AS eval_id, v AS ev, nrm AS en
    FROM {mv} WHERE vec_id % {DECON_EVAL_MOD} = 0
),
tr AS (
    SELECT vec_id AS train_id, v AS tv, nrm AS tn
    FROM {mv} WHERE vec_id % {DECON_EVAL_MOD} != 0
),
ev_sk AS (
    SELECT vec_id AS eval_id, t.tbl AS tbl, t.bucket AS bucket
    FROM {mv} LATERAL VIEW explode(tb) _x AS t
    WHERE vec_id % {DECON_EVAL_MOD} = 0
),
tr_sk AS (
    SELECT vec_id AS train_id, t.tbl AS tbl, t.bucket AS bucket
    FROM {mv} LATERAL VIEW explode(tb) _x AS t
    WHERE vec_id % {DECON_EVAL_MOD} != 0
),
cand AS (
    SELECT DISTINCT train_id, eval_id
    FROM tr_sk JOIN ev_sk USING (tbl, bucket)
),
packed AS (
    SELECT train_id, {_DECON_PK_SQL}
    FROM cand JOIN tr USING (train_id) JOIN ev USING (eval_id)
)
{_decon_score_sql()}
""")


def _decon_bucketed_oracle() -> str:
    """DuckDB replay of the EXACT bucketing + shared scoring: same seeded
    planes, same sign-bit buckets, same round-then-pack cosine — the
    'approximate' pipeline stays value-level checkable because the
    approximation is deterministic given the planes."""
    planes = _planes(DECON_LSH_TABLES * DECON_LSH_PLANES)
    tables = []
    for t in range(DECON_LSH_TABLES):
        bits = []
        for j in range(DECON_LSH_PLANES):
            arr = (
                "["
                + ",".join(f"{x}.0" for x in planes[t * DECON_LSH_PLANES + j])
                + "]::DOUBLE[]"
            )
            bits.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        tables.append(
            f"SELECT vec_id, v, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM e"
        )
    union = "\n    UNION ALL ".join(tables)
    return f"""
WITH e AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ) WHERE {dl.norm_positive('v', dl.DUCK)}
),
tb AS (
    {union}
),
cand AS (
    SELECT DISTINCT tr.vec_id AS train_id, ev.vec_id AS eval_id
    FROM (SELECT * FROM tb WHERE vec_id % {DECON_EVAL_MOD} <> 0) tr
    JOIN (SELECT * FROM tb WHERE vec_id % {DECON_EVAL_MOD} = 0) ev
    USING (tbl, bucket)
),
packed AS (
    SELECT c.train_id,
           (CAST(round(list_cosine_similarity(et.v, ee.v) * 10000, 0) AS BIGINT) + 10000)
               * {_DECON_ID_SPAN}
           + ({_DECON_ID_SPAN - 1} - c.eval_id) AS pk
    FROM cand c
    JOIN e et ON et.vec_id = c.train_id
    JOIN e ee ON ee.vec_id = c.eval_id
),
best AS (
    SELECT train_id, MAX(pk) AS pk FROM packed GROUP BY train_id
),
decoded AS (
    SELECT train_id,
           CAST({_DECON_ID_SPAN - 1} - pk % {_DECON_ID_SPAN} AS BIGINT) AS eval_id,
           ((pk // {_DECON_ID_SPAN}) - 10000) / 10000.0 AS cos_sim
    FROM best
)
SELECT train_id, eval_id, cos_sim
FROM decoded
WHERE cos_sim >= {DECON_MIN_COS}
"""


register_df(
    "decontaminate_embedding_bucketed",
    _decontaminate_embedding_bucketed,
    oracle_body=_decon_bucketed_oracle(),
    doc="Embedding decon via hyperplane-LSH banded candidate join — the "
    "no-broadcast 100 TB fallback of decontaminate_embedding; same shared "
    "packed-BIGINT scoring, candidates bounded by (tbl, bucket) collisions "
    "instead of the cross product (deterministic planes; oracle replays "
    "the bucketing).",
    bench=True,
)
