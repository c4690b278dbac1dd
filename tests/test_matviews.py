"""Session-materialized relation cache: reliability modes + lifecycle.

VERDICT r9 item 1: the matview/PQ-index mechanism rested on eager
``localCheckpoint`` — lineage truncated onto executor-local blocks, fine
on local[*], unrecoverable after one lost executor at cluster scale. The
``catalog.configure_matview`` knob selects {local | reliable | persist};
these tests pin that every mode produces value-identical results for a
matview-backed family and that invalidation/eviction release what they
should (ADVICE r9: a same-path data rewrite must not serve stale
checkpointed rows, and an in-flight build's input views must survive
eviction pressure).
"""

import pytest

from squirtle_spark import catalog


@pytest.fixture
def reset_matview_mode():
    yield
    catalog._MATVIEW_MODE = None
    catalog._CHECKPOINT_DIR = None
    catalog._PERSIST_WARNED = False


def _rows(spark, sf_dir, name):
    from squirtle_spark.registry import load_all

    return sorted(map(tuple, load_all()[name].spark_fn(spark, sf_dir).collect()))


@pytest.mark.parametrize("mode", ["reliable", "persist"])
def test_matview_mode_matches_local(spark, sf_dir, tmp_path, mode, reset_matview_mode):
    """The cluster-survivable modes are value-identical to the local
    default for a matview-backed family (dedup_minhash_lsh reads the
    shared shingle/signature/band matviews) AND for the PQ index path
    (ann_pq_topk's materialized code table)."""
    catalog._MATVIEW_MODE = None
    catalog.invalidate(spark)
    base_lsh = _rows(spark, sf_dir, "dedup_minhash_lsh")
    base_pq = _rows(spark, sf_dir, "ann_pq_topk")
    assert base_lsh and base_pq

    catalog.invalidate(spark)
    catalog.configure_matview(mode, checkpoint_dir=str(tmp_path / "ckpt"))
    assert catalog.matview_mode() == mode
    assert _rows(spark, sf_dir, "dedup_minhash_lsh") == base_lsh
    assert _rows(spark, sf_dir, "ann_pq_topk") == base_pq
    catalog.invalidate(spark)


def _populate_matview(s, sf_dir):
    from squirtle_spark.operators import similarity

    similarity._emb_view(s, sf_dir)
    return ("matview", sf_dir, "emb_normed")


def _populate_pq_index(s, sf_dir):
    from squirtle_spark.operators import similarity

    similarity._pq_index(s, sf_dir, ivf=False)
    return ("pq_index", sf_dir, False, similarity.N_CELLS)


def _populate_brute_q(s, sf_dir):
    from squirtle_spark.operators import similarity

    similarity._brute_query_block(s, sf_dir)
    return ("brute_q", sf_dir)


def _populate_decon_guard(s, sf_dir):
    from squirtle_spark.operators import similarity

    similarity._decon_guard_eval_ids(s, sf_dir, "SELECT 1 AS eval_id")
    return ("decon_guard", sf_dir)


def _populate_cdc_mor(s, sf_dir):
    from squirtle_spark.operators import warehouse

    warehouse._cdc_read_mor_spark(s, sf_dir)
    return ("cdc_mor", sf_dir)


@pytest.mark.parametrize(
    "populate",
    [
        lambda s, sf_dir: ("registered",),
        _populate_matview,
        _populate_pq_index,
        _populate_brute_q,
        _populate_decon_guard,
        _populate_cdc_mor,
    ],
    ids=["registered", "matview", "pq_index", "brute_q", "decon_guard", "cdc_mor"],
)
def test_invalidate_drops_matviews_and_pq_index(spark, sf_dir, populate):
    """invalidate() must forget every entry kind this session holds: a
    caller that rewrote parquet under the same path would otherwise read
    stale materializations forever (ADVICE r9 — the cache key can't see
    a same-dir rewrite). Another session's entry of the same kind and
    key survives. (The "ckpt_deletes" kind is covered by
    test_reliable_eviction_defers_checkpoint_delete.)"""
    mine, other = spark.newSession(), spark.newSession()
    for s in (mine, other):
        catalog.register_all(s, sf_dir)
        key = populate(s, sf_dir)
        assert catalog.entry(s, *key) is not None

    catalog.invalidate(mine)
    assert catalog.entry(mine, *key) is None
    assert catalog.entry(other, *key) is not None
    catalog.invalidate(other)
    assert catalog.entry(other, *key) is None


def test_register_all_per_session(spark, sf_dir):
    """Registration is per SESSION: spark.newSession() shares the
    applicationId but starts with an empty temp-view catalog, so it must
    get its own views (an app-keyed registration skipped it and
    ``table("bid")`` failed with TABLE_OR_VIEW_NOT_FOUND), and neither
    session's matviews may be served to the other."""
    catalog.register_all(spark, sf_dir)
    s2 = spark.newSession()
    catalog.register_all(s2, sf_dir)
    assert s2.table("bid").count() == spark.table("bid").count() > 0

    sql = "SELECT 7 AS x"
    v1 = catalog.session_matview(spark, "per_session", sf_dir, sql)
    v2 = catalog.session_matview(s2, "per_session", sf_dir, sql)
    assert v1 != v2
    assert s2.catalog.tableExists(v2) and not s2.catalog.tableExists(v1)
    assert spark.catalog.tableExists(v1) and not spark.catalog.tableExists(v2)
    catalog.invalidate(s2)
    catalog.clear_matviews(spark)


def test_invalidate_rebuilds_mor_table(spark, sf_dir):
    """After invalidate() the next cdc_read_mor must rebuild its MOR table
    from the current data, and releasing the old table removes its temp
    dir (it used to survive invalidate and keep being read)."""
    import os
    import re

    from squirtle_spark.operators import warehouse

    def table_dir(df):
        (d,) = {
            "/" + re.match(r"file:/*(.*?/cdc-mor-read-[^/]+)/", f).group(1)
            for f in df.inputFiles()
        }
        return d

    s = spark.newSession()
    catalog.register_all(s, sf_dir, force=True)
    first = warehouse._cdc_read_mor_spark(s, sf_dir)
    rows = sorted(map(tuple, first.collect()))
    old = table_dir(first)
    assert table_dir(warehouse._cdc_read_mor_spark(s, sf_dir)) == old  # reused

    catalog.invalidate(s)
    assert not os.path.exists(old)
    catalog.register_all(s, sf_dir)
    again = warehouse._cdc_read_mor_spark(s, sf_dir)
    assert table_dir(again) != old
    assert sorted(map(tuple, again.collect())) == rows
    catalog.invalidate(s)


def test_exit_removes_mor_temp_dir(tmp_path):
    """A process that ends without catalog.invalidate still removes the
    cdc_read_mor temp dir its session store holds (the exit hook used to
    clean only deferred checkpoint files, so these dirs piled up in the
    system temp dir)."""
    import os
    import subprocess
    import sys
    import textwrap

    mor = tmp_path / "cdc-mor-read-exit"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        f"""
        import os, shutil
        from types import SimpleNamespace
        from squirtle_spark import catalog

        def build():
            os.makedirs({str(mor)!r} + "/log/b=0")
            return {str(mor)!r}

        catalog.memo(SimpleNamespace(_squirtle_sid="s"), ("cdc_mor", "sf"), build,
                     release=lambda p: shutil.rmtree(p, ignore_errors=True))
        """
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    subprocess.run([sys.executable, "-c", code], check=True, cwd=repo, env=env, timeout=120)
    assert tmp_path.exists() and not mor.exists()


def test_matview_eviction_exempts_build_inputs(spark, sf_dir, monkeypatch):
    """A staged pipeline hands earlier stages' matview NAMES to a later
    build_sql; eviction pressure during that build must never drop a
    view the in-flight build reads (ADVICE r9: fill the cache, then
    build a relation referencing the oldest entry — pre-fix this raised
    TABLE_OR_VIEW_NOT_FOUND)."""
    # an empty store of bound 2, so A and B fill it and nothing else counts
    monkeypatch.setattr(catalog, "_STORE", {})
    va = catalog.session_matview(spark, "evict_a", sf_dir, "SELECT 1 AS x")
    vb = catalog.session_matview(spark, "evict_b", sf_dir, "SELECT 2 AS x")
    monkeypatch.setattr(catalog, "_ENTRY_MAX", 2)
    # builds C under a full cache; its SQL references A (the oldest entry,
    # the default eviction victim) — B must be evicted instead
    vc = catalog.session_matview(
        spark, "evict_c", sf_dir, f"SELECT x + 10 AS x FROM {va}"
    )
    assert spark.sql(f"SELECT x FROM {vc}").first()["x"] == 11
    assert catalog.entry(spark, "matview", sf_dir, "evict_a") is not None
    assert catalog.entry(spark, "matview", sf_dir, "evict_c") is not None
    assert catalog.entry(spark, "matview", sf_dir, "evict_b") is None
    assert not spark.catalog.tableExists(vb)
    catalog.clear_matviews(spark)


def test_clear_matviews_drops_views_and_handles(spark, sf_dir):
    v = catalog.session_matview(spark, "clear_me", sf_dir, "SELECT 42 AS x")
    assert spark.sql(f"SELECT x FROM {v}").first()["x"] == 42
    catalog.clear_matviews(spark)
    assert catalog.entry(spark, "matview", sf_dir, "clear_me") is None
    assert not spark.catalog.tableExists(v)


def test_lm_pairs_hook_value_identical(spark, sf_dir):
    """The repeated-scoring hook (pairs_src over lm_pairs_view) must be
    value-identical to the registered self-contained forms for every
    bigram entry — this pins the matview's (doc_id, w1, w2) contract so
    the documented opt-in cannot silently drift (review r10: the hook
    was otherwise dead code)."""
    from squirtle_spark import dialect as dl
    from squirtle_spark.operators import text as T

    catalog.invalidate(spark)
    view = T.lm_pairs_view(spark, sf_dir)
    src = f"SELECT doc_id, w1, w2 FROM {view}"
    for builder in (
        T._lm_perplexity_bigram,
        T._lm_perplexity_kn,
        T._lm_score_new_batch,
    ):
        plain = sorted(map(tuple, spark.sql(builder(dl.SPARK)).collect()))
        hooked = sorted(
            map(tuple, spark.sql(builder(dl.SPARK, pairs_src=src)).collect())
        )
        assert plain == hooked and plain
    catalog.invalidate(spark)


def test_reliable_mode_clear_deletes_checkpoint_files(
    spark, sf_dir, tmp_path, reset_matview_mode
):
    """Reliable-mode matviews write checkpoint FILES that nothing else
    ever cleans (spark.cleaner's checkpoint cleaning defaults off); an
    explicit clear/invalidate must delete them, or a long-lived session
    grows its checkpoint store without bound (review r10)."""
    import os

    ckpt = tmp_path / "ckpt-reliable"
    catalog.invalidate(spark)
    catalog.configure_matview("reliable", checkpoint_dir=str(ckpt))
    v = catalog.session_matview(
        spark, "reliable_clear", sf_dir, "SELECT id AS x FROM RANGE(100)"
    )
    assert spark.sql(f"SELECT COUNT(*) c FROM {v}").first()["c"] == 100

    def n_files() -> int:
        return sum(len(fs) for _, _, fs in os.walk(ckpt))

    assert n_files() > 0  # the checkpoint actually wrote here
    catalog.clear_matviews(spark)
    assert n_files() == 0  # and the explicit clear removed it


def test_reliable_eviction_defers_checkpoint_delete(
    spark, sf_dir, tmp_path, reset_matview_mode, monkeypatch
):
    """Silent FIFO eviction of a reliable-mode matview must not orphan
    its checkpoint files (ADVICE r10): eviction can't delete them
    immediately — live consumers of the evicted relation READ them, the
    same rule that forbids unpersist-on-eviction — so the path is queued
    and the next explicit clear_matviews/invalidate deletes it."""
    import os
    import re

    sess = spark.newSession()
    catalog.configure_matview("reliable", checkpoint_dir=str(tmp_path / "ck"))
    # an empty store of bound 1, so the SECOND insert below evicts the
    # FIRST (this session's oldest) and nothing else
    monkeypatch.setattr(catalog, "_STORE", {})
    monkeypatch.setattr(catalog, "_ENTRY_MAX", 1)
    catalog.session_matview(
        sess, "evict_a", sf_dir, "SELECT id AS x FROM RANGE(7)"
    )
    key_a = ("matview", sf_dir, "evict_a")
    (df_a,) = catalog.entry(sess, *key_a).frames
    p = catalog._checkpoint_path(df_a)
    assert p  # reliable mode really wrote checkpoint files
    local = re.sub(r"^file:/*", "/", p)
    assert os.path.exists(local)

    catalog.session_matview(
        sess, "evict_b", sf_dir, "SELECT id AS y FROM RANGE(8)"
    )
    assert catalog.entry(sess, *key_a) is None  # evicted
    # files survive eviction (consumers), the evicted frame still works,
    # and the path is queued for deferred deletion
    assert os.path.exists(local)
    assert df_a.count() == 7
    assert p in catalog.entry(sess, "ckpt_deletes").value

    catalog.clear_matviews(sess)
    assert not os.path.exists(local)
    assert catalog.entry(sess, "ckpt_deletes") is None


def test_persist_mode_warns_about_cliffs(reset_matview_mode):
    """Configuring persist mode must warn about the measured 3-6x
    per-query cliffs on chained-matview queries (VERDICT r11 flag 1:
    the +34% aggregate hides ann_ivfpq_topk at 6x), and the other two
    modes must stay silent."""
    import warnings

    catalog._PERSIST_WARNED = False
    with pytest.warns(UserWarning, match="3-6x on chained-matview"):
        catalog.configure_matview("persist")
    # once per process: a second configure adds no new information (ADVICE r12)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        catalog.configure_matview("persist")
    for quiet in ("local", "reliable"):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            catalog.configure_matview(quiet)
