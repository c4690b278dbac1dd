"""Randomized differential lane (VERDICT r11 #2): regenerate the ten
tables with seeded adversarial distributions (tools/randgen — skewed
keys, NULLs, empty groups, unicode, planted dups) and replay every
oracle-backed registry entry against its DuckDB oracle on the NEW
bytes. Guards against fixture overfit: the driver's fixed parquet can
never re-exercise the empty-doc / NULL-column / unicode edges that the
r12 first run proved real (six bugs — see tools/differential.py).

Two seeds run in-suite (~2 min each); tools/run_differential.py sweeps
more seeds and commits DIFFERENTIAL_r{N}.json as the round artifact.
"""

import pytest

from tools.differential import EXCLUSIONS, run_seed

SEEDS = (11, 23)


@pytest.mark.differential
@pytest.mark.parametrize("seed", SEEDS)
def test_randomized_differential_seed(spark, tmp_path_factory, seed):
    base = str(tmp_path_factory.mktemp(f"randfix-{seed}"))
    res = run_seed(spark, seed, base)
    # the lane must actually sweep the registry, not an empty set
    assert len(res) > 150, f"lane degenerated: only {len(res)} entries checked"
    bad = {k: v for k, v in res.items() if v["status"] != "ok"}
    assert not bad, "randomized differential failures:\n" + "\n".join(
        f"  {k}: {v['status']} {v['msg']}" for k, v in bad.items()
    )


def test_exclusions_are_adjudicated_and_real():
    """Every exclusion must name a mechanism (not a bare quarantine) and
    must reference a registered entry — a renamed entry would silently
    turn its exclusion into dead config."""
    from squirtle_spark.registry import load_all

    names = set(load_all())
    for entry, reason in EXCLUSIONS.items():
        assert entry in names, f"exclusion for unknown entry {entry}"
        assert len(reason) > 40, f"exclusion for {entry} lacks a mechanism"


def test_randgen_is_deterministic(tmp_path):
    """Same seed → byte-identical tables (a failing seed must be a
    reproducible bug report, committable by number)."""
    import hashlib
    import os

    from tools.randgen import generate

    a = generate(str(tmp_path / "a"), 4242)
    b = generate(str(tmp_path / "b"), 4242)

    def digest(d):
        out = {}
        for f in sorted(os.listdir(d)):
            out[f] = hashlib.sha1(open(os.path.join(d, f), "rb").read()).hexdigest()
        return out

    da, db = digest(a), digest(b)
    assert set(da) == {f"{t}.parquet" for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )}
    assert da == db


@pytest.mark.differential
def test_randomized_stream_equals_batch(spark, tmp_path):
    """The stream==batch invariant on RANDOMIZED events (NULL values,
    a hot-second burst, Zipf users) — the fixed replay fixtures never
    push NULL measures or burst skew through the state store. Tumbling
    count+sum per user: sum over a window whose every value is NULL
    must agree between one-batch and epoch-replay execution."""
    from pyspark.sql import functions as F

    from squirtle_spark import streaming
    from tools.randgen import generate

    d = generate(str(tmp_path / "fix"), 4711)
    # day-grain epochs: ~30 replay files over the fixture's span (finer
    # epochs exploded into thousands of single-row files)
    ev = (
        spark.read.parquet(f"{d}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("epoch", F.expr("unix_timestamp(ts) DIV 86400"))
    )
    data_dir = str(tmp_path / "ev")
    streaming.write_epoch_files(ev, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=7).drop(
        "epoch"
    )

    def agg(df):
        # DECIMAL sum: a raw DOUBLE sum is fold-order-dependent, and
        # streaming accumulates in micro-batch arrival order while batch
        # sums in scan order — the repo's own decimal-routing rule,
        # re-proven by this test's first run failing on it
        return (
            df.groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.expr("CAST(value AS DECIMAL(20,4))")).alias("sum_value"),
                F.count("value").alias("n_nonnull"),
            )
            .select(
                F.col("window.start").alias("win_start"),
                "user_id",
                "cnt",
                "sum_value",
                "n_nonnull",
            )
        )

    rows = streaming.run_available_now(
        agg(stream), checkpoint=str(tmp_path / "ckpt"), mode="complete"
    )
    expected = agg(ev.drop("epoch")).collect()
    assert len(rows) > 100
    key = lambda r: (r[0], r[1])
    got = {key(r): tuple(r) for r in rows}
    want = {key(r): tuple(r) for r in expected}
    assert got == want
    # the NULL-measure edge actually occurred: some window has rows but
    # zero non-null values (sum NULL), or fewer non-nulls than rows
    assert any(r["cnt"] > r["n_nonnull"] for r in expected)


@pytest.mark.differential
def test_spark_levenshtein_is_codepoint_exact_on_random_unicode(spark):
    """dedup_edit_distance re-entered the DuckDB lane in r13 via the
    dialect.levenshtein_codepoints recode shim; this test remains the
    third-engine anchor, pinning Spark's levenshtein — code-point edit
    distance — against an independent pure-Python DP reference on seeded
    random unicode pairs (the shim's own cross-engine cases live in
    tests/test_dialect.py)."""
    import random

    rng = random.Random(20240816)
    alphabet = "ab 数据🚀cafémир"

    def rand_s():
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 24))
        )

    def dp(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    pairs = [(rand_s(), rand_s()) for _ in range(200)]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [
        r["d"]
        for r in df.selectExpr("levenshtein(a, b) AS d").collect()
    ]
    want = [dp(a, b) for a, b in pairs]
    assert got == want
    # the domain actually exercised multi-byte code points
    assert any(len(a.encode()) != len(a) for a, _ in pairs)


@pytest.mark.differential
def test_degenerate_fixture_full_sweep(spark, tmp_path_factory):
    """Every oracle-backed entry must survive the DEGENERATE fixture
    (empty fact tables, singleton groups, a zero embedding, NULL/empty
    text) — at 100 TB an empty shard or one corrupt row is a certainty,
    and the crash class (9 entries on the first r12 sweep) kills the
    whole job, not one row."""
    from tools.differential import run_degenerate

    res = run_degenerate(spark, str(tmp_path_factory.mktemp("degen")))
    assert len(res) > 150
    bad = {k: v for k, v in res.items() if v["status"] != "ok"}
    assert not bad, "degenerate-fixture failures:\n" + "\n".join(
        f"  {k}: {v['status']} {v['msg']}" for k, v in bad.items()
    )


@pytest.mark.differential
def test_null_array_lengths_do_not_depend_on_ansi(spark, tmp_path):
    """With spark.sql.ansi.enabled=false, Spark's ``size(NULL)`` is -1
    where ``array_size(NULL)`` and DuckDB's ``len(NULL)`` are NULL. The
    NULL-text docs of the degenerate fixture must give oracle-equal
    token counts and span removals under either setting."""
    from squirtle_spark import catalog
    from squirtle_spark.oracle import check_query
    from tools.randgen import generate_degenerate

    d = generate_degenerate(str(tmp_path / "degen"))
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    catalog.invalidate(spark)
    try:
        for name in ("token_count", "dedup_span_removal"):
            res = check_query(spark, name, d)
            assert res.ok, res.message()
    finally:
        spark.conf.set(key, prev)
        catalog.invalidate(spark)
