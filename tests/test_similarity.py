"""Recall checks for the approximate ANN paths against the exact baseline.

The LSH/IVF entries are rows-only in the driver gate (approximate by
construction), so their quality evidence lives here: top-k recall against
the brute-force exact results must clear a floor that random bucketing
could not (random 25%-of-corpus scan would land ~0.25 recall).
"""

from squirtle_spark.registry import load_all


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["c_id"])
    return out


def _recall(approx, exact):
    hits = total = 0
    for q, exact_ids in exact.items():
        total += len(exact_ids)
        hits += len(exact_ids & approx.get(q, set()))
    return hits / total


#: Per-variant recall@k floors at registry scale, gated on the
#: ann_recall_report's OWN rows (VERDICT r8 item 8): the report is what
#: an index-selection decision reads, so a bad codebook retrain or
#: re-drawn plane set must fail CI here — as a named floor violation —
#: rather than surface as a value diff a human has to notice. Floors
#: match the per-variant tests below (measured fixture values carry
#: comfortable margins: sq8 0.98, ivf ~0.6+, pq 0.48, lsh ~0.4+,
#: ivfpq ~0.3+ probing 8/16 cells of near-orthogonal random vectors).
RECALL_FLOORS = {"lsh": 0.3, "ivf": 0.5, "sq8": 0.9, "pq": 0.35, "ivfpq": 0.2}


def test_recall_report_rows_clear_floors(spark, sf_dir):
    qs = load_all()
    rows = {r["variant"]: r for r in qs["ann_recall_report"].spark_fn(spark, sf_dir).collect()}
    assert set(rows) == set(RECALL_FLOORS)
    for variant, floor in RECALL_FLOORS.items():
        r = rows[variant]
        assert r["n_truth"] > 0
        assert r["recall"] >= floor, (
            f"{variant} recall@k {r['recall']:.2f} below its {floor} floor "
            f"({r['n_hit']}/{r['n_truth']} hits) — index-build regression"
        )


def test_ivf_recall_vs_brute(spark, sf_dir):
    qs = load_all()
    exact = _topk_sets(qs["ann_cosine_topk"].spark_fn(spark, sf_dir))
    approx = _topk_sets(qs["ann_ivf_topk"].spark_fn(spark, sf_dir))
    r = _recall(approx, exact)
    assert r >= 0.5, f"IVF recall@5 {r:.2f} below floor"


def test_lsh_recall_vs_brute(spark, sf_dir):
    qs = load_all()
    exact = _topk_sets(qs["ann_cosine_topk"].spark_fn(spark, sf_dir))
    approx = _topk_sets(qs["ann_lsh_topk"].spark_fn(spark, sf_dir))
    r = _recall(approx, exact)
    assert r >= 0.3, f"LSH recall@5 {r:.2f} below floor"


def test_stream_lsh_index_equals_batch(spark, sf_dir, tmp_path):
    """Incremental index maintenance: embeddings streamed in epochs into a
    partitioned LSH index must answer top-k queries identically to the
    batch ann_lsh_topk plan over the same corpus."""
    from pyspark.sql import functions as F

    from squirtle_spark import catalog, streaming
    from squirtle_spark.operators import similarity

    catalog.register_all(spark, sf_dir)
    emb = spark.table("embeddings")
    streaming.write_epoch_files(
        emb.withColumn("epoch", F.col("vec_id") % 8), str(tmp_path / "emb")
    )

    similarity.stream_lsh_index_build(
        spark,
        str(tmp_path / "emb"),
        str(tmp_path / "index"),
        checkpoint=str(tmp_path / "ckpt-lsh"),
        files_per_trigger=2,
    )
    queries = emb.where(F.col("vec_id") < similarity.N_QUERIES)
    got = similarity.query_lsh_index(spark, str(tmp_path / "index"), queries)

    expected = load_all()["ann_lsh_topk"].spark_fn(spark, sf_dir)
    got_rows = sorted(map(tuple, got.collect()))
    exp_rows = sorted(map(tuple, expected.collect()))
    assert len(got_rows) > 0
    assert got_rows == exp_rows


def test_pq_recall_vs_brute(spark, sf_dir):
    """PQ on near-orthogonal random fixtures is the method's worst case
    (subspace distances carry little of the full-dim signal); measured
    recall@5 is 0.48 at sf0.01 with M=16/K=64 + one Lloyd step. The floor
    pins it well above the ~0.01 a random 12-byte code scan would score,
    and rises with K (0.80 measured at K=256) or on clustered real data."""
    qs = load_all()
    exact = _topk_sets(qs["ann_cosine_topk"].spark_fn(spark, sf_dir))
    approx = _topk_sets(qs["ann_pq_topk"].spark_fn(spark, sf_dir))
    r = _recall(approx, exact)
    assert r >= 0.35, f"PQ recall@5 {r:.2f} below floor"


def test_sq8_recall_vs_brute(spark, sf_dir):
    """Int8 quantization must barely dent top-k recall (measured 0.98 at
    sf0.001/sf0.01; floor pinned well above what a lossy scheme that
    mattered would score)."""
    qs = load_all()
    exact = _topk_sets(qs["ann_cosine_topk"].spark_fn(spark, sf_dir))
    approx = _topk_sets(qs["ann_sq8_topk"].spark_fn(spark, sf_dir))
    assert _recall(approx, exact) >= 0.9


def test_ivfpq_recall_and_cell_pruning(spark, sf_dir):
    """IVF-PQ: (a) recall floor vs exact — probing N_PROBE of N_CELLS
    cells on near-orthogonal fixtures costs some of PQ's already-low
    fixture recall but must stay far above the random-scan floor;
    (b) the structural pruning contract: every returned candidate's home
    cell is one of its query's probed cells, and every query's candidate
    set is a SUBSET of what full-corpus PQ ADC could rank — i.e. the
    composition only ever prunes, never invents pairs."""
    from squirtle_spark import catalog
    from squirtle_spark.operators import similarity as sim

    qs = load_all()
    exact = _topk_sets(qs["ann_cosine_topk"].spark_fn(spark, sf_dir))
    approx_df = qs["ann_ivfpq_topk"].spark_fn(spark, sf_dir)
    approx = _topk_sets(approx_df)
    r = _recall(approx, exact)
    assert r >= 0.2, f"IVF-PQ recall@5 {r:.2f} below floor"

    # pruning contract from the materialized index itself
    _, codes_view, cents_view = catalog.entry(
        spark, "pq_index", sf_dir, True, sim.N_CELLS
    ).views
    cells = {
        r["c_id"]: r["cell"]
        for r in spark.table(codes_view).select("c_id", "cell").distinct().collect()
    }
    probe_rows = spark.sql(
        f"""SELECT vec_id AS q_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       c.cn2 - 2 * aggregate(zip_with(
                           transform(CAST(e.embedding AS ARRAY<DOUBLE>),
                                     x -> CAST(ROUND(x * 10000) AS BIGINT)),
                           c.cw, (x, y) -> x * y), CAST(0 AS BIGINT),
                           (acc, x) -> acc + x) ASC, c.cell ASC) AS rn
            FROM embeddings e CROSS JOIN {cents_view} c
            WHERE e.vec_id < {sim.N_QUERIES}) t WHERE rn <= {sim.N_PROBE}"""
    ).collect()
    probed = {}
    for row in probe_rows:
        probed.setdefault(row["q_id"], set()).add(row["cell"])
    for row in approx_df.collect():
        assert cells[row["c_id"]] in probed[row["q_id"]], (
            f"candidate {row['c_id']} outside query {row['q_id']}'s probed cells"
        )
    # scan-fraction bound: probed cells hold a strict subset of the corpus
    n_corpus = len(cells)
    for q, cset in probed.items():
        covered = sum(1 for c, cell in cells.items() if cell in cset)
        assert covered < n_corpus, "probing covered the whole corpus"


def test_ivfpq_driver_routing_matches_distributed(spark, sf_dir):
    """Coordinator probe routing (r14): the registered IVF-PQ search
    routes queries to cells driver-side against the cached centroid
    table — the FAISS/Milvus coarse-quantizer locality — instead of a
    per-search BroadcastNestedLoopJoin + window chain. The probe set and
    the final top-k must match the distributed SQL form BIT-FOR-BIT
    (same BIGINT rel arithmetic, same (rel ASC, cell ASC) tie-break);
    the distributed form stays available via probes_rows=None for query
    batches too large to route at the coordinator."""
    import re

    from squirtle_spark import catalog, dialect as dl
    from squirtle_spark.operators import similarity as sim

    catalog.register_all(spark, sf_dir)
    index = sim._pq_index(spark, sf_dir, ivf=True)
    views = index.views
    routed = sorted(sim._route_probes(index, sim.N_PROBE))
    assert routed and len(routed) == sim.N_QUERIES * sim.N_PROBE

    _, _, q_dist = sim._ann_pq(dl.SPARK, ivf=True, views=views)
    m = re.search(r"probes AS \(\n.*?\n\)", q_dist, re.S)
    pre = q_dist.split(",\nprobes AS")[0]
    sql_probes = sorted(
        (int(r["q_id"]), int(r["cell"]))
        for r in spark.sql(
            pre
            + ", probes AS ("
            + m.group(0)[len("probes AS (") : -1]
            + ") SELECT q_id, cell FROM probes"
        ).collect()
    )
    assert routed == sql_probes

    dist_result = sorted(map(tuple, spark.sql(q_dist).collect()))
    routed_result = sorted(map(tuple, sim._ann_ivfpq_spark(spark, sf_dir).collect()))
    assert dist_result == routed_result


def test_stream_ann_probe_equals_batch(spark, sf_dir, tmp_path):
    """Ingest-and-serve with both sides streamed: queries streamed in
    epochs against the persisted LSH index must produce, in union, the
    same top-k verdicts as one batch probe of all queries."""
    from pyspark.sql import functions as F

    from squirtle_spark import catalog, streaming
    from squirtle_spark.operators import similarity

    catalog.register_all(spark, sf_dir)
    emb = spark.table("embeddings")
    streaming.write_epoch_files(
        emb.withColumn("epoch", F.col("vec_id") % 4), str(tmp_path / "emb")
    )
    similarity.stream_lsh_index_build(
        spark,
        str(tmp_path / "emb"),
        str(tmp_path / "index"),
        checkpoint=str(tmp_path / "ckpt-idx"),
        files_per_trigger=4,
    )

    queries = emb.where(F.col("vec_id") < similarity.N_QUERIES)
    streaming.write_epoch_files(
        queries.withColumn("epoch", F.col("vec_id") % 3), str(tmp_path / "q")
    )
    similarity.stream_ann_probe(
        spark,
        str(tmp_path / "q"),
        str(tmp_path / "index"),
        str(tmp_path / "results"),
        checkpoint=str(tmp_path / "ckpt-probe"),
        files_per_trigger=1,
    )

    got = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "results")).drop("_epoch").collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            similarity.query_lsh_index(
                spark, str(tmp_path / "index"), queries
            ).collect(),
        )
    )
    assert len(got) > 0
    assert got == exp


def test_pq_index_cache_bounded(spark, sf_dir, monkeypatch):
    """PQ-index eviction (VERDICT r6 item 8): a session sweeping many
    sf_dirs must not grow the session store (and its checkpointed code
    tables) without bound. Seed the store to its cap with foreign-session
    entries; building one more index must evict rather than exceed the
    cap, and the fresh entry must be the one served."""
    from squirtle_spark import catalog
    from squirtle_spark.operators import similarity as sim

    catalog.register_all(spark, sf_dir)
    # a store holding only the foreign fakes: a cache hit would return
    # early without evicting, so the index must be built here
    fakes = {
        ("fake-session", "pq_index", f"/fake/{i}", False, sim.N_CELLS): catalog.Entry(
            None, views=(f"f{i}_cb", f"f{i}_codes", f"f{i}_cents")
        )
        for i in range(catalog._ENTRY_MAX)
    }
    monkeypatch.setattr(catalog, "_STORE", dict(fakes))
    index = sim._pq_index(spark, sf_dir, ivf=False)
    bounded = [e for e in catalog._STORE.values() if e.views]
    assert len(bounded) == catalog._ENTRY_MAX
    assert catalog.entry(spark, "pq_index", sf_dir, False, sim.N_CELLS).value == index
    # the oldest foreign fake made room; the others are untouched
    assert next(iter(fakes)) not in catalog._STORE
    catalog.invalidate(spark)


def test_pq_shared_oracle_equals_registered(sf_dir):
    """The soak's factored PQ oracle (shared temp-table lifecycle, one
    build serving both pq and ivfpq searches — VERDICT r9 item 8) must
    be value-identical to the registered self-contained oracles: this
    pin is what licenses SOAK_r10's "identical coverage" claim."""
    import duckdb

    from squirtle_spark import dialect as dl
    from squirtle_spark.catalog import TABLES
    from squirtle_spark.operators import similarity as sim
    from squirtle_spark.oracle import _normalize

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        setup, q_pq = sim._ann_pq(dl.DUCK, shared=True)
        setup_ivf, q_ivf = sim._ann_pq(dl.DUCK, ivf=True, shared=True)
        assert setup == setup_ivf  # one lifecycle, two searches
        for s in setup:
            con.sql(s)
        for shared_q, full_q in (
            (q_pq, sim._ann_pq(dl.DUCK)),
            (q_ivf, sim._ann_pq(dl.DUCK, ivf=True)),
        ):
            a, b = con.sql(shared_q).df(), con.sql(full_q).df()
            assert len(a) == len(b) > 0
            assert _normalize(a) == _normalize(b)
    finally:
        con.close()


def test_decontaminate_embedding_broadcasts_eval_and_flags(spark, sf_dir):
    """The eval side must broadcast (the 100 TB plan: eval sets are tiny)
    and the flagged set must be exactly the rows clearing the threshold,
    one row per flagged train vector with its argmax eval match."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from squirtle_spark.operators.similarity import DECON_MIN_COS

    q = load_all()["decontaminate_embedding"]
    df = q.spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan  # eval side broadcast
    assert "CartesianProduct" not in plan

    rows = df.collect()
    assert rows, "fixture threshold should flag a non-empty set"
    assert len({r["train_id"] for r in rows}) == len(rows)  # argmax: one row/doc
    assert all(r["cos_sim"] >= DECON_MIN_COS for r in rows)
    # paraphrase-decon is a superset check vs chance: no eval ids leak in
    eval_ids = {r["eval_id"] for r in rows}
    assert all(e % 97 == 0 for e in eval_ids)


def test_decontaminate_bucketed_matches_broadcast_and_plans_no_cross(
    spark, sf_dir
):
    """The LSH-bucketed fallback (the plan for when the eval split does
    NOT broadcast) must agree value-for-value with the broadcast form at
    the fixture working point — the decon LSH knobs (k=3, L=16) were
    sized so recall vs the exact cross product is 1.0 here (VERDICT r11
    item 1: the 100 TB fallback must be an executable, tested entry, not
    docstring prose) — and its plan must carry NO cross product of any
    kind: the whole point of bucketing is that neither side needs to fit
    in a broadcast, so the join must be a hash join on (tbl, bucket)."""
    import contextlib
    import io

    qs = load_all()
    broad = qs["decontaminate_embedding"].spark_fn(spark, sf_dir)
    bucketed = qs["decontaminate_embedding_bucketed"].spark_fn(spark, sf_dir)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bucketed.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # the broadcast form's shape

    key = lambda r: (r["train_id"], r["eval_id"], round(r["cos_sim"], 4))
    a = sorted(map(key, broad.collect()))
    b = sorted(map(key, bucketed.collect()))
    assert a, "fixture threshold should flag a non-empty set"
    assert a == b  # recall 1.0 at the fixture working point


def test_auto_ivf_geometry_rule():
    """The corpus-derived geometry reproduces the hand-tuned stress
    points exactly and degrades to probe-all below N_IVF_MIN (VERDICT
    r14 #3): pruned probing at fixture scale measured recall_vs_pq
    0.32-0.58, far under the 0.9 floor."""
    from squirtle_spark.operators.similarity import (
        N_IVF_MIN,
        auto_ivf_geometry,
    )

    assert auto_ivf_geometry(19_990) == (128, 32)  # 10x stress corpus
    assert auto_ivf_geometry(59_990) == (256, 64)  # 30x stress corpus
    assert auto_ivf_geometry(490) == (16, 16)  # sf0.01: probe-all
    assert auto_ivf_geometry(1_990) == (32, 32)  # sf0.1: probe-all
    # boundary: pruning switches on exactly at N_IVF_MIN
    cells_at_min, probe_at_min = auto_ivf_geometry(N_IVF_MIN)
    assert probe_at_min == cells_at_min // 4
    cells_below, probe_below = auto_ivf_geometry(N_IVF_MIN - 1)
    assert probe_below == cells_below
    # centroid table stays O(sqrt(corpus)) at any scale
    cells_1b, _ = auto_ivf_geometry(1_000_000_000)
    assert cells_1b == 32_768


def test_ann_ivfpq_auto_recall_floor(spark, sf_dir):
    """The auto twin must hold recall_vs_pq >= 0.9 at fixture scale. At
    sub-N_IVF_MIN corpora it probes every cell, so the result is the
    exact full-ADC ranking — recall 1.0 by construction; this pins the
    floor so a future rule change that re-enables small-N pruning (the
    0.32-0.58 recall class) fails loudly."""
    qs = load_all()
    pq = qs["ann_pq_topk"].spark_fn(spark, sf_dir).select("q_id", "c_id")
    auto = qs["ann_ivfpq_auto"].spark_fn(spark, sf_dir).select("q_id", "c_id")
    n_pq = pq.count()
    overlap = pq.join(auto, ["q_id", "c_id"]).count()
    assert n_pq > 0
    assert overlap / n_pq >= 0.9
    assert overlap == n_pq  # probe-all => exact, not just above-floor
