"""Planted-case semantics for the corpus-curation + funnel operators.

The DuckDB oracle (test_oracle.py) proves both engines compute the same
thing; these tests prove it is the RIGHT thing, on inputs constructed so
each rule (overlap detection, containment threshold, quota, step order)
has a known answer.
"""

from pyspark.sql import functions as F

from squirtle_spark import catalog
from squirtle_spark import dialect as dl
from squirtle_spark.operators import curation
from squirtle_spark.queries import analytics


def _plant_documents(spark, rows):
    df = spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.createOrReplaceTempView("documents")
    catalog.invalidate(spark)


def _plant_events(spark, rows):
    df = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, (ts, u, et) in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.createOrReplaceTempView("events")
    catalog.invalidate(spark)


def test_decontaminate_flags_only_overlapping_train_docs(spark):
    # doc 10 is eval (10 % EVAL_MOD == 0); doc 11 shares two 5-grams with
    # it; doc 13 shares none.
    _plant_documents(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta", "en"),
            (11, "alpha beta gamma delta epsilon zeta eta", "en"),
            (13, "one two three four five six seven", "en"),
        ],
    )
    try:
        got = {
            r["doc_id"]: r["n_shared_ngrams"]
            for r in spark.sql(curation._decontaminate(dl.SPARK)).collect()
        }
        assert got == {11: 2}
    finally:
        catalog.invalidate(spark)


def test_dedup_incremental_containment_threshold(spark):
    # corpus = doc_id % 4 != 0 (docs 1), batch = % 4 == 0 (docs 4, 8, 12).
    # doc 4 repeats corpus text verbatim -> containment 1.0 -> rejected;
    # doc 8 is novel -> accepted; doc 12 is too short to shingle ->
    # accepted with containment 0.
    _plant_documents(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (4, "the quick brown fox jumps over the lazy dog", "en"),
            (8, "completely different words appear in this new document", "en"),
            (12, "too short", "en"),
        ],
    )
    try:
        rows = {
            r["doc_id"]: (r["status"], r["containment"])
            for r in spark.sql(curation._dedup_incremental(dl.SPARK)).collect()
        }
        assert rows[4] == ("dup_of_corpus", 1.0)
        assert rows[8][0] == "accepted" and rows[8][1] == 0.0
        assert rows[12] == ("accepted", 0.0)
    finally:
        catalog.invalidate(spark)


def test_shard_corpus_stable_total_order(spark, sf_dir):
    catalog.register_all(spark, sf_dir)
    a = spark.sql(curation._shard_corpus(dl.SPARK)).collect()
    b = spark.sql(curation._shard_corpus(dl.SPARK)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard_id"] < curation.N_SHARDS
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    # positions are 1..n contiguous within every shard
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_sample_stratified_exact_quota(spark):
    _plant_documents(
        spark,
        [(i, f"text {i}", "en") for i in range(10)]
        + [(100 + i, f"andere {i}", "de") for i in range(3)],
    )
    try:
        got = spark.sql(curation._sample_stratified(dl.SPARK)).collect()
        by_lang: dict[str, int] = {}
        for r in got:
            by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        assert by_lang == {"en": 1, "de": 1}  # ceil(0.1*10), ceil(0.1*3)
    finally:
        catalog.invalidate(spark)


def test_funnel_requires_step_order_within_window(spark):
    t = "2024-01-0{d} {h:02d}:00:00"
    _plant_events(
        spark,
        [
            # user 1: full ordered funnel within windows
            (t.format(d=1, h=0), 1, "view"),
            (t.format(d=1, h=1), 1, "click"),
            (t.format(d=1, h=2), 1, "purchase"),
            # user 2: view only
            (t.format(d=1, h=0), 2, "view"),
            # user 3: click BEFORE its view -> stuck at stage 1
            (t.format(d=1, h=0), 3, "click"),
            (t.format(d=1, h=1), 3, "view"),
            # user 4: click 8 days after view -> outside the 7-day window
            (t.format(d=1, h=0), 4, "view"),
            ("2024-01-09 01:00:00", 4, "click"),
        ],
    )
    try:
        got = {
            r["stage"]: r["n_users"]
            for r in spark.sql(analytics._funnel(dl.SPARK)).collect()
        }
        assert got == {"view": 4, "click": 1, "purchase": 1}
    finally:
        catalog.invalidate(spark)


def test_cohort_retention_offsets(spark):
    # weeks are 7-day tumbles from the unix epoch; 2024-01-04 starts one
    # (1970-01-01 + 2818*7d). user 1 active in weeks 0 and 2, user 2 in
    # week 0 only, user 3 first seen in week 1.
    _plant_events(
        spark,
        [
            ("2024-01-04 00:00:00", 1, "view"),
            ("2024-01-19 00:00:00", 1, "click"),
            ("2024-01-04 12:00:00", 2, "view"),
            ("2024-01-11 00:00:00", 3, "view"),
        ],
    )
    try:
        rows = spark.sql(analytics._cohort_retention(dl.SPARK)).collect()
        got = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_active"] for r in rows
        }
        assert got == {
            ("2024-01-04 00:00:00", 0): 2,
            ("2024-01-04 00:00:00", 2): 1,
            ("2024-01-11 00:00:00", 0): 1,
        }
    finally:
        catalog.invalidate(spark)


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """The exported shard files must cover the corpus exactly, one
    directory per shard, rows pre-sorted by shard_pos inside each file."""
    import glob

    from squirtle_spark.operators.curation import N_SHARDS, write_training_shards

    path = str(tmp_path / "shards")
    n = write_training_shards(spark, sf_dir, path)
    assert n == spark.table("documents").count()

    dirs = sorted(glob.glob(f"{path}/shard_id=*"))
    assert len(dirs) == N_SHARDS
    seen = 0
    for d in dirs:
        pdf = spark.read.parquet(d).toPandas()
        seen += len(pdf)
        poss = list(pdf["shard_pos"])
        assert poss == sorted(poss), d  # loader-ready: stable in-shard order
        assert poss == list(range(1, len(poss) + 1)), d  # dense, gap-free
    assert seen == n


def test_chunk_documents_coverage_and_overlap(spark, sf_dir):
    """Chunks cover every token exactly (stride-aligned starts, last chunk
    truncated) and no chunk exceeds the window size."""
    from squirtle_spark.operators.pipeline import _CHUNK_SIZE, _CHUNK_STRIDE
    from squirtle_spark.registry import load_all

    chunks = load_all()["chunk_documents"].spark_fn(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["n"]
        for r in spark.sql(
            "SELECT doc_id, size(filter(split(text, '\\\\s+'), x -> x != '')) AS n FROM documents"
        ).collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
        assert r["chunk_tokens"] <= _CHUNK_SIZE
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_start"])
        starts = [r["chunk_start"] for r in rows]
        assert starts == list(range(1, docs[doc_id] + 1, _CHUNK_STRIDE)), doc_id
        # every chunk holds exactly the tokens the window reaches
        for r in rows:
            expect = min(_CHUNK_SIZE, docs[doc_id] - r["chunk_start"] + 1)
            assert r["chunk_tokens"] == expect, (doc_id, r["chunk_start"])


def test_pack_sequences_budget_invariants(spark, sf_dir):
    """Every doc is packed exactly once; bins fill contiguously per source
    (bin_id/bin_offset are consistent with the running token count)."""
    from squirtle_spark.operators.pipeline import _PACK_BUDGET
    from squirtle_spark.registry import load_all

    rows = load_all()["pack_sequences"].spark_fn(spark, sf_dir).collect()
    n_docs = spark.table("documents").count()
    assert len(rows) == n_docs  # each doc assigned exactly once
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        rs.sort(key=lambda r: r["doc_id"])
        running = 0
        for r in rs:
            assert r["bin_id"] == running // _PACK_BUDGET, (source, r["doc_id"])
            assert r["bin_offset"] == running % _PACK_BUDGET, (source, r["doc_id"])
            running += r["n_tokens"]


def test_stream_curation_equals_batch(spark, sf_dir, tmp_path):
    """Incremental curation: streamed gate -> within-batch dedup ->
    anti-join vs the accumulated accepted store must admit exactly the
    batch formulation's survivor set (gate, then min-id exact dedup).
    Epochs are fed in doc_id order so first-arrival == min doc_id."""
    from squirtle_spark import streaming

    catalog.register_all(spark, sf_dir)
    docs = spark.table("documents")
    n = docs.count()
    chunk = (n + 7) // 8  # 8 epochs, lexicographic dir order == numeric
    streaming.write_epoch_files(
        docs.withColumn("epoch", F.expr(f"CAST(doc_id DIV {chunk} AS INT)")),
        str(tmp_path / "docs"),
    )

    curation.stream_curation(
        spark,
        str(tmp_path / "docs"),
        str(tmp_path / "accepted"),
        checkpoint=str(tmp_path / "ckpt-cur"),
        files_per_trigger=2,
    )
    got = spark.read.parquet(str(tmp_path / "accepted"))

    expected = spark.sql(f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
            FROM documents
            WHERE length(text) >= {curation.CURATION_MIN_CHARS}
        ) WHERE rn = 1
    """)
    got_ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    exp_ids = sorted(r["doc_id"] for r in expected.collect())
    assert len(got_ids) > 0
    assert got_ids == exp_ids
    # the store's fingerprints are unique — the anti-join held
    assert got.select("content_fp").distinct().count() == len(got_ids)


def test_minhash_band_index_probe_matches_registered_entry(spark, sf_dir, tmp_path):
    """The persisted-parquet band index (build once, probe per batch — the
    100 TB deployment shape) returns verdicts identical to the
    self-contained oracle-checked registry entry, because both run the
    same _probe_core_sql text; only where the corpus side comes from
    differs."""
    from squirtle_spark.operators import dedup
    from squirtle_spark.registry import load_all

    idx = str(tmp_path / "mh-index")
    dedup.build_minhash_band_index(spark, sf_dir, idx)
    probed = dedup.probe_minhash_band_index(spark, sf_dir, idx)
    registered = load_all()["dedup_incremental_minhash"].spark_fn(spark, sf_dir)

    key = lambda r: r["doc_id"]  # noqa: E731
    got = sorted((r.asDict() for r in probed.collect()), key=key)
    exp = sorted((r.asDict() for r in registered.collect()), key=key)
    assert len(got) > 0
    assert got == exp


def test_pii_redaction_planted_cases(spark):
    """Detector semantics on hand-constructed text: multi-hit, clean,
    adjacent-punctuation, and each PII kind in isolation."""
    from squirtle_spark.operators.pii import redact_expr

    rows = [
        (1, "mail a@b.co and c.d+e@f-g.org now"),
        (2, "no pii here at all"),
        (3, "server 192.168.0.1, backup 10.0.255.254."),
        (4, "call 415-555-0199 or 415 555 0123"),
        (5, "mixed: x@y.io via 172.16.4.2 tel 650-555-9999"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "pii_probe"
    )
    got = {
        r["doc_id"]: r["red"]
        for r in spark.sql(
            f"SELECT doc_id, {redact_expr('text', dl.SPARK)} AS red FROM pii_probe"
        ).collect()
    }
    assert got[1] == "mail <EMAIL> and <EMAIL> now"
    assert got[2] == "no pii here at all"
    assert got[3] == "server <IP>, backup <IP>."
    assert got[4] == "call <PHONE> or <PHONE>"
    assert got[5] == "mixed: <EMAIL> via <IP> tel <PHONE>"


def test_bpe_train_merges_chain(spark):
    """On a corpus of 'abab' words, round 1 must merge 'a b'->'ab' and
    round 2 must merge the MERGED symbols 'ab ab'->'abab' — proving each
    round counts the previous round's merged corpus, not the original."""
    from squirtle_spark.operators import text

    _plant_documents(spark, [(i, "abab abab", "en") for i in range(10)])
    rows = {r["merge_rank"]: r for r in spark.sql(text._bpe_train_merges(dl.SPARK)).collect()}
    assert rows[1]["pair"] == "a b" and rows[1]["merged"] == "ab"
    assert rows[2]["pair"] == "ab ab" and rows[2]["merged"] == "abab"


def test_bpe_stepped_form_matches_unrolled_across_threshold(spark, sf_dir):
    """VERDICT r15 #8: bpe_train_merges_at gates its plan form on K —
    unrolled at the declared K=3 (measured faster at bench scale),
    per-round checkpointed past BPE_STEPPED_K_THRESHOLD (the unrolled
    chain is ~2^K-1 legs; stepped measured -15%/-49% at K=4/K=6 on the
    10x corpus). Both forms must emit identical rows at a K below and a
    K above the threshold, and 'auto' must pick the measured side."""
    from squirtle_spark.operators import text

    for k in (2, text.BPE_STEPPED_K_THRESHOLD + 2):
        u = [tuple(r) for r in text.bpe_train_merges_at(
            spark, sf_dir, k=k, form="unrolled").collect()]
        s = [tuple(r) for r in text.bpe_train_merges_at(
            spark, sf_dir, k=k, form="stepped").collect()]
        a = [tuple(r) for r in text.bpe_train_merges_at(
            spark, sf_dir, k=k, form="auto").collect()]
        assert u == s == a and len(u) == k
    # the registered K=3 entry's text is the unchanged unrolled plan
    assert text._bpe_train_merges(dl.SPARK, w0_src="W0") == text._bpe_train_merges(
        dl.SPARK, w0_src="W0", k=text.BPE_TRAIN_K
    )


def test_bpe_stepped_form_binds_quote_and_backslash_symbols(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The stepped form applies each round's winning pair to the corpus.
    A corpus whose symbols include ' and \\ must train the same merges
    in the stepped and unrolled forms: the pair is data, never SQL."""
    import os

    from squirtle_spark.operators import text

    # a private sf_dir so the planted corpus gets its own session matview
    planted_dir = tmp_path / "sf"
    planted_dir.mkdir()
    for t in catalog.TABLES:
        os.symlink(f"{sf_dir}/{t}.parquet", planted_dir / f"{t}.parquet")
    q, bs = "chr(39)", "chr(92)"
    corpus = (
        f"SELECT concat(' a ', {q}, ' b ', {bs}, ' ') AS s, CAST(10 AS BIGINT) AS wn "
        f"UNION ALL SELECT concat(' ', {q}, ' ', {bs}, ' ', {q}, ' ', {bs}, ' '), "
        "CAST(7 AS BIGINT) "
        f"UNION ALL SELECT concat(' ', {bs}, ' ', {bs}, ' a '), CAST(3 AS BIGINT)"
    )
    monkeypatch.setattr(text, "_bpe_words0", lambda d: corpus)
    k = 4
    u = [tuple(r) for r in text.bpe_train_merges_at(
        spark, str(planted_dir), k=k, form="unrolled").collect()]
    s = [tuple(r) for r in text.bpe_train_merges_at(
        spark, str(planted_dir), k=k, form="stepped").collect()]
    assert u == s and len(u) == k
    assert any("'" in r[1] or "\\" in r[1] for r in u)


def test_stream_curation_redacts_pii(spark, tmp_path):
    """With redact_pii on, accepted rows store masked text while dedup
    still keys on raw content: two docs identical except for their PII
    collapse to one, and no raw email/IP survives in the store."""
    from squirtle_spark import streaming

    pad = "x" * 80  # clear the CURATION_MIN_CHARS gate
    rows = [
        (0, f"{pad} mail me at alice@example.com", 0),
        (1, f"{pad} mail me at alice@example.com", 0),  # exact dup
        (2, f"{pad} server 10.1.2.3 up", 1),
        (3, f"{pad} call 415-555-0100 now", 1),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, epoch int")
    streaming.write_epoch_files(docs, str(tmp_path / "docs"))

    curation.stream_curation(
        spark,
        str(tmp_path / "docs"),
        str(tmp_path / "accepted"),
        checkpoint=str(tmp_path / "ckpt"),
        files_per_trigger=1,
        redact_pii=True,
    )
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(str(tmp_path / "accepted")).collect()}
    assert sorted(got) == [0, 2, 3]  # dup doc 1 collapsed on RAW text
    assert got[0].endswith("mail me at <EMAIL>")
    assert got[2].endswith("server <IP> up")
    assert got[3].endswith("call <PHONE> now")
    for t in got.values():
        assert "example.com" not in t and "10.1.2.3" not in t and "555-" not in t


def test_pack_concat_split_tiles_exactly(spark, sf_dir):
    """Span manifest invariants: within every (source, seq) the spans sum
    to SEQ_LEN (final sequence excepted), never overlap, start at 0 in
    doc-order, and each doc's spans reassemble the whole doc."""
    from collections import defaultdict

    from squirtle_spark.operators.pipeline import _SEQ_LEN
    from squirtle_spark.registry import load_all

    rows = load_all()["pack_concat_split"].spark_fn(spark, sf_dir).collect()
    assert rows
    by_seq = defaultdict(list)
    by_doc = defaultdict(int)
    for r in rows:
        by_seq[(r["source"], r["seq_id"])].append(r)
        by_doc[r["doc_id"]] += r["n_toks"]
        assert 0 < r["n_toks"] <= _SEQ_LEN
        assert 0 <= r["seq_off"] < _SEQ_LEN
    last_seq = {}
    for (src, seq), _ in by_seq.items():
        last_seq[src] = max(last_seq.get(src, -1), seq)
    for (src, seq), spans in by_seq.items():
        spans.sort(key=lambda r: r["seq_off"])
        pos = 0
        for sp in spans:
            assert sp["seq_off"] == pos  # no gap, no overlap
            pos += sp["n_toks"]
        if seq < last_seq[src]:
            assert pos == _SEQ_LEN  # full tile except the shard tail
    # every doc fully reassembles from its spans
    docs = {
        r["doc_id"]: r["n"]
        for r in spark.sql(
            "SELECT doc_id, size(filter(split(trim(text), '\\\\s+'), x -> x != '')) AS n FROM documents"
        ).collect()
    }
    for doc_id, tot in by_doc.items():
        assert tot == docs[doc_id]


def test_jsonl_shard_export_verifies_against_manifest(spark, sf_dir, tmp_path):
    """The export lane a training run actually ships: JSONL shards written
    with the same layout contract as parquet, and the source-computed
    shard_manifest re-verifies byte-for-byte against the EXPORTED data —
    recomputing every order-independent XOR checksum from the JSONL
    read-back reproduces the manifest exactly."""
    from squirtle_spark.operators.curation import N_SHARDS, write_training_shards
    from squirtle_spark.registry import load_all

    path = str(tmp_path / "shards-jsonl")
    n = write_training_shards(spark, sf_dir, path, fmt="json")
    src_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert n == src_n

    manifest = {
        r["shard_id"]: r.asDict()
        for r in load_all()["shard_manifest"].spark_fn(spark, sf_dir).collect()
    }
    assert len(manifest) == N_SHARDS

    back = spark.read.json(path)
    back.createOrReplaceTempView("jsonl_export")
    recomputed = {
        r["shard_id"]: r.asDict()
        for r in spark.sql("""
            SELECT shard_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(bit_xor(CAST(conv(substr(md5(
                       'ck:' || CAST(doc_id AS STRING) || ':' || text
                   ), 1, 15), 16, 10) AS BIGINT)) AS BIGINT) AS content_xor
            FROM jsonl_export GROUP BY shard_id
        """).collect()
    }
    for sid, m in manifest.items():
        assert recomputed[sid]["n_docs"] == m["n_docs"], sid
        assert recomputed[sid]["content_xor"] == m["content_xor"], sid


def test_pii_boundaries_protect_non_pii_digit_runs(spark):
    """The \\b anchors: version strings, timestamp-dotted builds, and long
    reference numbers must survive redaction untouched (the round-6
    review counterexamples), while adjacent real PII still masks."""
    from squirtle_spark.operators.pii import redact_expr

    rows = [
        (1, "release 10.2.3.4567 is out"),
        (2, "build 2026.08.14.123456 shipped"),
        (3, "digits 1234-567-8901 unchanged"),
        (4, "real 10.1.2.3 and 415-555-0100 here"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "pii_bounds"
    )
    got = {
        r["doc_id"]: r["red"]
        for r in spark.sql(
            f"SELECT doc_id, {redact_expr('text', dl.SPARK)} AS red FROM pii_bounds"
        ).collect()
    }
    assert got[1] == "release 10.2.3.4567 is out"
    assert got[2] == "build 2026.08.14.123456 shipped"
    assert got[3] == "digits 1234-567-8901 unchanged"
    assert got[4] == "real <IP> and <PHONE> here"


def test_ccnet_and_scorecard_never_drop_documents(spark):
    """The round-6 review counterexample: a language with no doc in the
    held-out sample (no doc_id % CCNET_SAMPLE_MOD == 0) must surface as
    'unsampled', not vanish; and the scorecard must emit one row per
    document regardless of which gates could score it."""
    from squirtle_spark.operators.selection import _ccnet_buckets, _quality_scorecard

    pad = "word " * 30
    rows = [(i, pad + f"doc{i}", "en") for i in [0, 5, 10, 15, 20]] + [
        (i, pad + f"zz{i}", "zz") for i in [1, 2, 3]  # none % 5 == 0
    ]
    _plant_documents(spark, rows)
    buckets = {r["doc_id"]: r["bucket"] for r in spark.sql(_ccnet_buckets(dl.SPARK)).collect()}
    assert len(buckets) == 8  # every doc present
    assert all(buckets[i] == "unsampled" for i in (1, 2, 3))
    card = spark.sql(_quality_scorecard(dl.SPARK)).collect()
    assert len(card) == 8


def test_pii_scrub_counts_fire_on_spark(spark):
    """The vacuous-green trap: the fixture corpus has no PII, so the
    oracle can't tell a broken Spark-side count from a working one. Plant
    PII and assert pii_scrub's n_pii counts it (this catches the \\b-as-
    backspace SQL-literal bug the round-6 fix-review found)."""
    from squirtle_spark.operators.text import _pii_scrub

    _plant_documents(
        spark,
        [
            (1, "call 415-555-0199 from 10.1.2.3 or mail a@b.co", "en"),
            (2, "clean text with no pii at all", "en"),
        ],
    )
    got = {r["doc_id"]: r for r in spark.sql(_pii_scrub(dl.SPARK)).collect()}
    assert got[1]["n_pii"] == 3
    assert got[2]["n_pii"] == 0
    assert got[1]["scrubbed"] == "call <PHONE> from <IP> or mail <EMAIL>"


def test_scd2_handles_null_attribute_values(spark):
    """NULL-safe run collapsing (round-6 review): A -> NULL -> A must
    produce THREE validity periods, not a silently-merged A run."""
    from squirtle_spark.operators.warehouse import _scd2_dimension

    rows = [
        ("2024-01-01 00:00:00", 1, "A"),
        ("2024-01-02 00:00:00", 1, None),
        ("2024-01-03 00:00:00", 1, "A"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, (ts, u, et) in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.createOrReplaceTempView("events")
    catalog.invalidate(spark)
    got = sorted(
        (r["version"], r["attr_value"], r["is_current"])
        for r in spark.sql(_scd2_dimension(dl.SPARK)).collect()
    )
    assert got == [(1, "A", 0), (2, None, 0), (3, "A", 1)]


def test_span_removal_preserves_case_and_canonical_content(spark):
    """Planted semantics for dedup_span_removal (round-6 review findings):
    (1) zero-removal docs pass through VERBATIM — original case and
    whitespace, not a lowercased token rebuild; (2) overlapping spans
    electing different canonical keepers never erase a span from every
    copy — the keeper's occurrence positions are protected, so each
    duplicated span survives intact in its canonical doc; (3) matching is
    case-insensitive but reassembly emits the ORIGINAL-case tokens."""
    from squirtle_spark.operators import dedup

    _plant_documents(
        spark,
        [
            (1, "a b c d e", "en"),
            (2, "a b c d e f", "en"),
            (3, "b c d e f", "en"),
            (4, "Hello World THIS IS  Unique Content Here", "en"),
            (5, "A B C D E x Y z w v", "en"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in spark.sql(dedup._dedup_span_removal(dl.SPARK)).collect()
    }
    # (1) untouched passthrough: case AND the double space survive
    assert got[4]["text_clean"] == "Hello World THIS IS  Unique Content Here"
    assert got[4]["n_removed"] == 0
    # (2) chained overlap: 'a b c d e' keeps doc 1, 'b c d e f' keeps
    # doc 2 — protection must stop the first removal from erasing the
    # second span's only canonical copy (pre-fix: doc2 -> 'f', doc3 -> '')
    assert got[1]["text_clean"] == "a b c d e" and got[1]["n_removed"] == 0
    assert got[2]["text_clean"] == "b c d e f" and got[2]["n_removed"] == 1
    assert got[3]["text_clean"] == "" and got[3]["n_removed"] == 5
    # (3) uppercase occurrence matches case-insensitively; kept remainder
    # reassembles with its original mixed case
    assert got[5]["text_clean"] == "x Y z w v" and got[5]["n_removed"] == 5


def test_span_removal_keeps_survivors_in_order(spark):
    """A document whose removed positions are NOT contiguous (two
    duplicated spans with a survivor between and around them) must
    reassemble its surviving tokens in their original order."""
    from squirtle_spark.operators import dedup

    _plant_documents(
        spark,
        [
            (1, "a b c d e", "en"),
            (2, "f g h i j", "en"),
            (3, "p a b c d e q f g h i j r", "en"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in spark.sql(dedup._dedup_span_removal(dl.SPARK)).collect()
    }
    assert got[3]["text_clean"] == "p q r"
    assert (got[3]["n_kept"], got[3]["n_removed"]) == (3, 10)
    assert got[1]["text_clean"] == "a b c d e" and got[2]["n_removed"] == 0


def test_span_index_probe_matches_registered_entry(spark, sf_dir, tmp_path):
    """The persisted span-shingle index (build once from the corpus,
    probe per batch) cleans new-batch docs identically to the
    self-contained oracle-checked registry entry — both run the same
    _span_probe_ctes/_span_removal_core text; only where the corpus
    stats come from differs."""
    from squirtle_spark.operators import dedup
    from squirtle_spark.registry import load_all

    idx = str(tmp_path / "span-index")
    dedup.build_span_shingle_index(spark, sf_dir, idx)
    probed = dedup.probe_span_removal_index(spark, sf_dir, idx)
    registered = load_all()["dedup_span_removal_incremental"].spark_fn(spark, sf_dir)

    key = lambda r: r["doc_id"]  # noqa: E731
    got = sorted((r.asDict() for r in probed.collect()), key=key)
    exp = sorted((r.asDict() for r in registered.collect()), key=key)
    assert len(got) > 0
    assert got == exp


def test_span_removal_incremental_equals_batch_on_union(spark, sf_dir):
    """The incremental probe's contract: for every batch doc, the result
    equals the FULL batch transform run over the whole union (corpus +
    batch) — union df >= 2 and the LEAST-merged keeper reproduce
    span_shared_ctes' corpus-global shared set exactly."""
    from squirtle_spark.operators.curation import BATCH_MOD
    from squirtle_spark.registry import load_all

    qs = load_all()
    inc = qs["dedup_span_removal_incremental"].spark_fn(spark, sf_dir)
    full = (
        qs["dedup_span_removal"]
        .spark_fn(spark, sf_dir)
        .where(f"doc_id % {BATCH_MOD} = 0")
    )
    key = lambda r: r["doc_id"]  # noqa: E731
    got = sorted((r.asDict() for r in inc.collect()), key=key)
    exp = sorted((r.asDict() for r in full.collect()), key=key)
    assert len(got) > 0
    assert got == exp


def test_bpe_encode_docs_sums_to_compression_curve(spark, sf_dir):
    """Algebraic consistency of the BPE family: the per-doc encode counts
    (bpe_encode_docs) summed over the corpus must equal the
    corpus-level compression curve's endpoints — round 0 (char symbols)
    and round BPE_TRAIN_K (all merges applied) — because all three
    entries share the same trained-merge CTE chain and apply rule."""
    from pyspark.sql import functions as F

    from squirtle_spark.operators.text import BPE_TRAIN_K
    from squirtle_spark.registry import load_all

    qs = load_all()
    per_doc = qs["bpe_encode_docs"].spark_fn(spark, sf_dir)
    totals = per_doc.agg(
        F.sum("n_char_tokens").alias("c0"), F.sum("n_bpe_tokens").alias("ck")
    ).first()
    curve = {
        r["after_merges"]: r["corpus_tokens"]
        for r in qs["bpe_compression_curve"].spark_fn(spark, sf_dir).collect()
    }
    assert totals["c0"] == curve[0]
    assert totals["ck"] == curve[BPE_TRAIN_K]


def test_split_by_cluster_is_structurally_leak_free(spark, sf_dir):
    """The property split_by_cluster exists for: ZERO near-dup pairs
    straddle a split boundary (split_leakage_audit's finding, fixed at
    split time), every cluster lands in exactly one split, and docs
    outside any cluster keep their plain split_train_val_test
    assignment (same salt) — only clustered docs can move."""
    from squirtle_spark.registry import load_all

    qs = load_all()
    splits = qs["split_by_cluster"].spark_fn(spark, sf_dir)
    from squirtle_spark.operators.dedup import _ngram_jaccard

    pairs = spark.sql(_ngram_jaccard(dl.SPARK)).select("doc_a", "doc_b")

    sa = splits.selectExpr("doc_id AS doc_a", "split AS split_a")
    sb = splits.selectExpr("doc_id AS doc_b", "split AS split_b")
    straddling = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where("split_a <> split_b")
        .count()
    )
    assert straddling == 0

    per_cluster = (
        splits.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where("n_splits > 1")
        .count()
    )
    assert per_cluster == 0

    plain = qs["split_train_val_test"].spark_fn(spark, sf_dir).select("doc_id", "split")
    singletons = splits.where("cluster_id = doc_id")
    moved = (
        singletons.alias("c")
        .join(plain.alias("p"), "doc_id")
        .where("c.split <> p.split")
        .count()
    )
    # cluster_id == doc_id also holds for each cluster's canonical doc,
    # whose key is its own id either way — so NO doc in this set moves.
    assert moved == 0
    # and the clusters are non-trivial at this SF: some docs DID move
    n_clustered = splits.where("cluster_id <> doc_id").count()
    assert n_clustered > 0
