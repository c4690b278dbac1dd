"""Table catalog: fixture loading + derived NEXMark/YSB views.

The driver's fixtures are a TPC-H-ish star schema plus a generic ``events``
stream table (see TESTDATA.md). The reference engine's query surface is
NEXMark/YSB (person/auction/bid/ad_event tables — schemas at
flock/src/datasource/nexmark/event.rs:130-148,220-246,336-353 and
flock/src/datasource/ysb/event.rs:43-59). We bridge the two by deriving the
NEXMark/YSB entities *deterministically* from ``events`` with pure SQL that
renders identically in Spark and DuckDB, so every NEXMark query is
oracle-checkable end to end.

Scale note: the derivations are fixture plumbing, not engine code — on a
real deployment the NEXMark entities arrive as their own streams/tables
(see sources.py for the deterministic generators). Everything here is a
lazy temp view: no materialization, no collect, predicate pushdown reaches
the parquet scan through the view.
"""

from __future__ import annotations

import atexit
import functools
import itertools
import re
import shutil
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dialect as dl
from .dialect import DUCK, SPARK

#: Every fixture table the driver ships (one parquet file each).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Columns stored as parquet TIMESTAMP(NANOS) — Spark cannot read those
#: natively; we read them as int64 (legacy.parquet.nanosAsLong) and convert
#: with integer division (ns DIV 1000 → µs) to match DuckDB's truncation.
NANO_TS_COLS = {"events": ["ts"]}


def configure(spark: SparkSession) -> None:
    """Set the runtime-settable confs every query depends on.

    Called defensively on whatever session we're handed (the driver builds
    its own), since getOrCreate() ignores builder configs on reuse.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Driver-built sessions never pass through session.get_spark, so ship
    # the package to Python workers here too — mapInPandas functions are
    # pickled by reference and workers must import squirtle_spark from ANY
    # launch directory (VERDICT r12 item 2).
    from .session import _ship_package

    _ship_package(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing all timestamps to TIMESTAMP_NTZ.

    NTZ everywhere means Spark and the DuckDB oracle both hand back naive
    wall-clock-UTC values — no tz-aware/naive mismatch in the comparator.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in NANO_TS_COLS.get(name, []):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c, F.expr(f"CAST(timestamp_micros({c} DIV 1000) AS TIMESTAMP_NTZ)")
            )
    for c, t in df.dtypes:
        if t == "timestamp":
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


# ---------------------------------------------------------------------------
# Derived NEXMark / YSB views (dialect-parameterized SQL)
# ---------------------------------------------------------------------------

# Auctions stay open 5–10 days out of the fixtures' ~30-day span so the
# winning-bid queries (q4/q6/q9: bid ts BETWEEN auction start AND expires)
# produce a meaningful match rate, mirroring NEXMark's long-lived auctions.
_AUCTION_MIN_LIFE_S = 432_000  # 5 days
_AUCTION_LIFE_MOD_S = 432_000  # + up to 5 more days

#: Bids reference the 1..N_BID_AUCTIONS id range. a_id = event_id + 1, so a
#: bid target resolves to a real auction iff event_id = target-1 was a
#: 'view' event (~1/5 of ids at every scale). Dangling bids are by
#: construction — both engines derive the identical subset, and the
#: winning-bid queries (q4/q6/q9) still see hundreds of matches at sf≥0.01.
N_BID_AUCTIONS = 1000

_STATES = ["OR", "ID", "CA", "WA", "NY", "TX", "FL", "MA", "AZ", "NV"]


def _person_sql(d: str) -> str:
    state_case = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_STATES[:-1])
    )
    return f"""
SELECT user_id AS p_id,
       'person_' || CAST(user_id AS STRING) AS name,
       'user_' || CAST(user_id AS STRING) || '@example.com' AS email_address,
       CAST((user_id * 7919) % 10000 AS STRING) AS credit_card,
       'city_' || CAST(user_id % 37 AS STRING) AS city,
       CASE CAST(user_id % 10 AS INT) {state_case} ELSE '{_STATES[-1]}' END AS state,
       MIN(ts) AS p_date_time
FROM events
WHERE event_type = 'signup'
GROUP BY user_id
"""


def _auction_sql(d: str) -> str:
    life = f"({_AUCTION_MIN_LIFE_S} + (event_id % {_AUCTION_LIFE_MOD_S}))"
    # a_id is a CLOSED FORM of event_id (unique because event_id is): the
    # view stays a pure projection — no window, no Exchange SinglePartition,
    # predicate pushdown reaches the parquet scan. (A global ROW_NUMBER here
    # funneled every auction-touching query through one task; fatal at scale.)
    return f"""
SELECT CAST(event_id + 1 AS BIGINT) AS a_id,
       'item_' || CAST(event_id % 1000 AS STRING) AS item_name,
       'desc_' || CAST(event_id % 101 AS STRING) AS description,
       CAST(FLOOR(value * 10) AS INT) + 1 AS initial_bid,
       CAST(FLOOR(value * 10) AS INT) + 1 + CAST(user_id % 50 AS INT) AS reserve,
       ts AS a_date_time,
       {dl.secadd('ts', life, d)} AS expires,
       user_id AS seller,
       CAST(event_id % 20 AS INT) AS category,
       'a_extra_' || CAST(event_id % 89 AS STRING) AS extra
FROM events
WHERE event_type = 'view'
"""


def _bid_sql(d: str) -> str:
    return f"""
SELECT 1 + ((event_id * 13) % {N_BID_AUCTIONS}) AS auction,
       user_id AS bidder,
       CAST(FLOOR(value * 100) AS INT) + 1 AS price,
       ts AS b_date_time,
       'b_extra_' || CAST(event_id % 97 AS STRING) AS extra
FROM events
WHERE event_type IN ('click', 'purchase')
"""


def _side_input_sql(d: str) -> str:
    """q13's bounded side input (flock registers it as a CSV side table;
    flock/src/datasource/nexmark/event.rs:375-385)."""
    return f"""
SELECT CAST(k AS BIGINT) AS key,
       'side_' || CAST(k % 42 AS STRING) AS value
FROM {dl.series_0_to(N_BID_AUCTIONS, 'k', d)} s
"""


def _ad_event_sql(d: str) -> str:
    """YSB ad event stream (flock/src/datasource/ysb/event.rs:43-59)."""
    return """
SELECT CAST(user_id AS STRING) AS ysb_user_id,
       'page_' || CAST(event_id % 100 AS STRING) AS page_id,
       CAST(event_id % 1000 AS STRING) AS ad_id,
       CASE CAST(event_id % 5 AS INT)
            WHEN 0 THEN 'banner' WHEN 1 THEN 'modal' WHEN 2 THEN 'sponsored-search'
            WHEN 3 THEN 'mail' ELSE 'mobile' END AS ad_type,
       event_type,
       ts AS event_time,
       '10.0.0.' || CAST(user_id % 256 AS STRING) AS ip_address
FROM events
"""


def _campaign_sql(d: str) -> str:
    """YSB's static 1000-ad / 100-campaign map (flock/src/datasource/ysb/event.rs:76-83)."""
    return f"""
SELECT CAST(k AS STRING) AS c_ad_id,
       'campaign_' || CAST(k % 100 AS STRING) AS campaign_id
FROM {dl.series_0_to(1000, 'k', d)} s
"""


def _partsupp_sql(d: str) -> str:
    """TPC-H partsupp derived from part × 4 suppliers with closed-form
    costs (the fixtures ship no partsupp table; flock ships the full TPC-H
    schema incl. partsupp, flock/src/datasource/tpch/mod.rs:24-29),
    spread over ALL suppliers via TPC-H's own (partkey + i·(S/4)) % S
    rule with S read from the supplier table itself. The pre-r15 form
    hard-coded S=100 (sf0.01's supplier count), so at sf0.1 partsupp
    referenced only 10% of suppliers — which emptied tpch_q20's
    NATION_7 semi-join at bench scale (VERDICT r14 #2) and would shrink
    to 1% coverage at sf1. S is dialect-split: the DuckDB oracle form
    stays a self-contained scalar subquery (the driver runs oracle SQL
    standalone at whatever sf its views hold), while the Spark form
    carries a ``__S_CNT__`` placeholder that register_all resolves to a
    literal from ONE dim-table count at view-registration time — an
    inline COUNT in the Spark view body would add a supplier scan + a
    single-partition exchange to every partsupp consumer's plan, and a
    scalar subquery inlined into q20's correlated threshold position
    trips Spark's 'Subquery has not finished' limitation. The spread
    S/4+1 keeps each part's 4 suppliers distinct mod S for any S ≥ 4."""
    if d == SPARK:
        s_cnt, spread = "__S_CNT__", "__S_SPREAD__"
    else:
        s_cnt = "(SELECT COUNT(*) FROM supplier)"
        spread = f"({dl.intdiv(s_cnt, '4', d)} + 1)"
    return f"""
SELECT p_partkey AS ps_partkey,
       CAST((p_partkey + k * {spread}) % {s_cnt} AS BIGINT) AS ps_suppkey,
       CAST(1 + (p_partkey * 37 + k * 19) % 9999 AS INT) AS ps_availqty,
       (CAST((p_partkey * 53 + k * 11) % 90000 AS DOUBLE) / 100 + 10.0) AS ps_supplycost
FROM part {dl.lateral_series(4, 'k', d)}
"""


def _lineitem_ext_sql(d: str) -> str:
    """lineitem + the three TPC-H columns the fixtures omit, as closed
    forms of (l_orderkey, l_linenumber): l_commitdate (±30 days around
    ship), l_receiptdate (1-14 days after ship) and l_shipmode (the 7
    TPC-H modes). Unlocks q21 and the true q12 form; pure projection, so
    scans/pushdown are unaffected."""
    k = "(l_orderkey * 7 + l_linenumber)"
    commit = dl.secadd("l_shipdate", f"((({k} * 13) % 60) - 30) * 86400", d)
    receipt = dl.secadd("l_shipdate", f"((({k} * 17) % 14) + 1) * 86400", d)
    modes = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL"]
    mode_case = " ".join(f"WHEN {i} THEN '{m}'" for i, m in enumerate(modes))
    return f"""
SELECT l.*,
       {commit} AS l_commitdate,
       {receipt} AS l_receiptdate,
       CASE CAST({k} % 7 AS INT) {mode_case} ELSE 'FOB' END AS l_shipmode
FROM lineitem l
"""


#: name → dialect-parameterized SQL body. Order matters for the DuckDB CTE
#: prefix (later views may reference earlier ones).
DERIVED_VIEWS: dict[str, callable] = {
    "person": _person_sql,
    "auction": _auction_sql,
    "bid": _bid_sql,
    "side_input": _side_input_sql,
    "ad_event": _ad_event_sql,
    "campaign": _campaign_sql,
    "partsupp": _partsupp_sql,
    "lineitem_ext": _lineitem_ext_sql,
}


# ---------------------------------------------------------------------------
# Session store: every session-lifetime materialization in one cache
# ---------------------------------------------------------------------------


class Entry(NamedTuple):
    """One cached session materialization (bounded iff it owns views)."""

    value: Any
    #: session temp views the entry owns, and the materialized frames
    #: behind them (unpersisted on release, never on eviction)
    views: tuple[str, ...] = ()
    frames: tuple[DataFrame, ...] = ()
    #: further clean-up (a temp dir, deferred checkpoint files), called
    #: with ``value`` when the entry is explicitly released
    release: Callable[[Any], None] | None = None


#: (sessionUUID, kind, *args) → Entry. Keyed on the JVM session's UUID:
#: temp views are session-scoped, spark.newSession() shares the
#: applicationId, and CPython can reuse an id() after a stopped session
#: is collected — neither may ever serve one session another's entries.
#: Kinds: "registered" (sf_dir of the temp views), "matview", "pq_index",
#: "brute_q", "decon_guard", "cdc_mor", "ckpt_deletes" and
#: "flush_listing" (a replay dir's listing after its flush sentinel).
_STORE: dict[tuple, Entry] = {}
#: Bound on live view-owning entries (matviews + PQ indexes): a long-
#: lived session sweeping many sf_dirs would otherwise grow the cache
#: (and its materialized blocks) without limit. FIFO eviction — a
#: rebuild is the documented cost, staleness is not.
_ENTRY_MAX = 32
#: Monotonic view-name sequence: a count of live entries would REUSE a
#: name after an eviction and silently overwrite a live entry's view.
_VIEW_SEQ = itertools.count()


def _sid(spark: SparkSession) -> str:
    # cached on the Python handle: a hit stays a dict lookup, no py4j call
    sid = getattr(spark, "_squirtle_sid", None)
    if sid is None:
        sid = spark._squirtle_sid = spark._jsparkSession.sessionUUID()
    return sid


def entry(spark: SparkSession, *key) -> Entry | None:
    """This session's entry under ``key``, or None."""
    return _STORE.get((_sid(spark), *key))


def store(spark: SparkSession, key: tuple, value, views=(), frames=()) -> None:
    """Cache ``value`` for this session, owning ``views`` and ``frames``."""
    _STORE[(_sid(spark), *key)] = Entry(value, tuple(views), tuple(frames))


def memo(spark: SparkSession, key: tuple, build, release=None):
    """``build()``'s value, run once per session and ``key``."""
    k = (_sid(spark), *key)
    if k not in _STORE:
        _STORE[k] = Entry(build(), release=release)
    return _STORE[k].value


def view_prefix(stem: str) -> str:
    """A session-unique temp-view name prefix ``{stem}{n}``."""
    return f"{stem}{next(_VIEW_SEQ)}"


def make_room(spark: SparkSession, reads: str = "") -> None:
    """FIFO-evict view-owning entries until one more fits _ENTRY_MAX."""
    sid = _sid(spark)
    bounded = [k for k, e in _STORE.items() if e.views]
    # never evict a view the in-flight build (SQL ``reads``) names
    # (ADVICE r9: a staged pipeline holds earlier stages' views by name;
    # evicting one mid-chain fails the build with TABLE_OR_VIEW_NOT_FOUND).
    # View names carry a unique sequence token, so a substring match
    # cannot false-positive.
    evictable = [
        k for k in bounded if not any(v in reads for v in _STORE[k].views)
    ]
    while len(bounded) >= _ENTRY_MAX and evictable:
        # prefer THIS session's oldest entry: its views can actually be
        # dropped here; a foreign session's views live until that
        # session ends, so evicting its key only discards the handle
        key = next((k for k in evictable if k[0] == sid), evictable[0])
        evictable.remove(key)
        bounded.remove(key)
        e = _STORE.pop(key)
        if key[0] == sid:
            # drop the handle ONLY — no unpersist: an outstanding
            # consumer analyzed against this (lineage-truncated) relation
            # must keep working; blocks reclaim via RDD GC
            for v in e.views:
                spark.catalog.dropTempView(v)
        for df in e.frames:
            _defer_checkpoint_delete(spark, df, key[0])


def _release(spark: SparkSession, kinds=None) -> None:
    """Explicitly release this session's entries (of ``kinds``, or all):
    drop their views, unpersist their frames, run their release action."""
    sid = _sid(spark)
    for key in [
        k for k in _STORE if k[0] == sid and (kinds is None or k[1] in kinds)
    ]:
        e = _STORE.pop(key)
        for v in e.views:
            spark.catalog.dropTempView(v)
        for df in e.frames:
            _unpersist_matview(df)
        if e.release is not None:
            e.release(e.value)


def register_all(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register every fixture table + derived view as a temp view (once
    per session and sf_dir: no re-reading 10 parquet schemas per query)."""
    if not force and getattr(entry(spark, "registered"), "value", None) == sf_dir:
        return
    configure(spark)
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    # One dim-table count per registration, baked into partsupp's spread
    # as literals (see _partsupp_sql for why not an inline subquery).
    s_cnt = None
    for name, sql_fn in DERIVED_VIEWS.items():
        body = sql_fn(SPARK)
        if "__S_CNT__" in body:
            if s_cnt is None:
                s_cnt = spark.table("supplier").count()
            body = body.replace("__S_CNT__", str(s_cnt)).replace(
                "__S_SPREAD__", str(s_cnt // 4 + 1)
            )
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {body}")
    store(spark, ("registered",), sf_dir)


def forget_registration(spark: SparkSession) -> None:
    """Forget this session's registration so the next register_all rebuilds
    every temp view — the NAMESPACE-level reset for callers that merely
    clobbered a catalog view name (api.run_streaming registering window
    slices under a stream table name, tests planting fixture views).
    Materialized relations survive: they were built against the canonical
    catalog under their own unique view names, so a name clobber cannot
    have poisoned them, and dropping them here would force pointless
    shingle/minhash/PQ rebuilds on the next query (review r10)."""
    _STORE.pop((_sid(spark), "registered"), None)


def invalidate(spark: SparkSession) -> None:
    """Full DATA-level invalidation: release every store entry of this
    session (other sessions' stay) — call after the parquet under a
    registered sf_dir is rewritten, since a same-dir rewrite leaves
    every key unchanged and old entries would serve stale rows forever
    (ADVICE r9). Outstanding DataFrames analyzed against a dropped
    matview fail fast on their next action instead of reading stale
    data. For a mere view-name clobber use forget_registration()."""
    _release(spark)


#: HOW a matview (and the PQ index, which routes through materialize())
#: is pinned. ``local`` — eager localCheckpoint: fastest, but lineage is
#: TRUNCATED onto executor-local blocks, so on a real cluster one lost
#: executor makes every downstream consumer unrecoverable; right for
#: single-JVM local runs, wrong for a 1000-executor deployment.
#: ``reliable`` — eager reliable checkpoint() into the job's checkpoint
#: dir (set one via configure_matview / $SPARK_GRAFT_CHECKPOINT_DIR;
#: HDFS/S3 on a cluster): blocks survive executor loss, tasks re-read
#: from the checkpoint store. ``persist`` — persist(MEMORY_AND_DISK_2)
#: keeping LINEAGE: a lost block is either served by the second replica
#: or recomputed from source; no external store needed. Deployment rule
#: in SCALING.md. Resolved from $SPARK_GRAFT_MATVIEW_MODE (default
#: ``local``) or set explicitly with configure_matview().
MATVIEW_MODES = ("local", "reliable", "persist")
_MATVIEW_MODE: str | None = None
_CHECKPOINT_DIR: str | None = None
_PERSIST_WARNED = False


def configure_matview(mode: str, checkpoint_dir: str | None = None) -> None:
    """Select the matview reliability mode ("local"|"reliable"|"persist").

    ``checkpoint_dir`` is required context for "reliable" (falls back to
    $SPARK_GRAFT_CHECKPOINT_DIR, then a session-local temp dir — the
    temp-dir fallback is only sound on local[*])."""
    global _MATVIEW_MODE, _CHECKPOINT_DIR
    if mode not in MATVIEW_MODES:
        raise ValueError(f"matview mode {mode!r} not in {MATVIEW_MODES}")
    if mode == "persist":
        # The +34% aggregate cost hides 3-6x per-query cliffs on deep
        # matview CHAINS (persist keeps lineage, so every consumer
        # re-walks the CacheManager's InMemoryTableScan per reference):
        # measured ann_ivfpq_topk 3.6s -> 21.3s (6.0x), dsir_select
        # 2.5 -> 7.3s, dedup_incremental_minhash 0.78 -> 3.9s
        # (matview_mode_bench.json; SCALING.md "mode cost"). Warn so an
        # operator picking persist on a checkpoint-less cluster knows
        # which query families eat the cost (VERDICT r11 flag 1).
        # Warn once per process: repeated configure calls (test loops, the
        # harness's own deliberate persist measurements) add no new
        # information after the first emission (ADVICE r12).
        global _PERSIST_WARNED
        if not _PERSIST_WARNED:
            import warnings

            warnings.warn(
                "matview mode 'persist' costs 3-6x on chained-matview "
                "queries (PQ/IVF-PQ indexes, dsir_select, incremental "
                "minhash) vs +34% aggregate - prefer 'reliable' when any "
                "checkpoint store exists; see SCALING.md mode rule",
                stacklevel=2,
            )
            _PERSIST_WARNED = True
    _MATVIEW_MODE = mode
    if checkpoint_dir:
        _CHECKPOINT_DIR = checkpoint_dir


def matview_mode() -> str:
    import os

    return _MATVIEW_MODE or os.environ.get("SPARK_GRAFT_MATVIEW_MODE", "local")


def materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` under the configured reliability mode.

    Single choke point for every session-lifetime materialization (the
    session store's matviews and PQ indexes), so the local-vs-cluster
    reliability decision is one knob, not N call sites. The caller owns
    the result's release: store it as an Entry frame."""
    mode = matview_mode()
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        import os
        import tempfile

        sc = spark.sparkContext
        configured = _CHECKPOINT_DIR or os.environ.get(
            "SPARK_GRAFT_CHECKPOINT_DIR"
        )
        if configured:
            # an explicitly configured dir always wins (re-configuring
            # mid-session must take effect; setCheckpointDir is
            # re-callable and only affects future checkpoints)
            sc.setCheckpointDir(configured)
        elif sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(tempfile.mkdtemp(prefix="squirtle-ckpt-"))
        return df.checkpoint(eager=True)
    # persist: replicated memory/disk cache, lineage KEPT (recompute or
    # second replica covers executor loss); count() forces materialization
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    out.count()
    return out


def _checkpoint_path(df: DataFrame) -> str | None:
    """The reliable-checkpoint file path behind ``df``, or None (local
    checkpoints and persist-mode frames have no file)."""
    try:
        ckpt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        return ckpt.get() if ckpt.isDefined() else None
    except Exception:
        return None


def _delete_ckpt_files(spark: SparkSession, paths) -> None:
    """Best-effort recursive delete via the Hadoop FS (works for file:,
    hdfs:, s3a: — whatever the checkpoint dir was configured on)."""
    for path in paths:
        try:
            jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
            jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                jpath, True
            )
        except Exception:
            pass


def _defer_checkpoint_delete(
    spark: SparkSession, df: DataFrame, owner_sid: str
) -> None:
    """Queue an EVICTED frame's reliable-checkpoint files on its owner
    session's "ckpt_deletes" entry. Eviction can't delete them (consumers
    READ them) and nothing else ever does (cleanCheckpoints defaults
    false), so a reliable session with eviction churn would grow its
    checkpoint dir without bound (ADVICE r10); the owner's next
    clear_matviews()/invalidate() — or interpreter exit — deletes them."""
    p = _checkpoint_path(df)
    if p:
        _STORE.setdefault(
            (owner_sid, "ckpt_deletes"),
            Entry([], release=functools.partial(_delete_ckpt_files, spark)),
        ).value.append(p)


def _cleanup_at_exit() -> None:
    # the JVM may already be gone at interpreter exit: clean what we can
    # reach OS-side (MOR temp dirs, local deferred checkpoint files);
    # remote schemes stay for the cluster's checkpoint-dir retention policy
    for key in [k for k in _STORE if k[1] in ("cdc_mor", "ckpt_deletes")]:
        e = _STORE.pop(key)
        for p in e.value if key[1] == "ckpt_deletes" else [e.value]:
            if "://" in p and not p.startswith("file:"):
                continue
            shutil.rmtree(re.sub(r"^file:/*", "/", p), ignore_errors=True)


atexit.register(_cleanup_at_exit)


def _unpersist_matview(df: DataFrame) -> None:
    """Best-effort release of a materialized frame's blocks (and, in
    reliable mode, its checkpoint FILES, which nothing else ever cleans)
    — ONLY on explicit release, never on silent eviction: a
    localCheckpoint frame cannot be recomputed (lineage truncated), so
    destroying its blocks under an already-analyzed consumer turns that
    consumer's next action into a 'checkpoint block not found' crash;
    after an explicit invalidation that fail-fast is the right outcome
    (review r10). Checkpointed frames hold RDD-level blocks the
    CacheManager doesn't know, reachable through the analyzed
    LogicalRDD. Failures are swallowed: a lingering block/file is a
    bounded space leak, not a correctness issue."""
    try:
        df.unpersist()
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
    p = _checkpoint_path(df)
    if p:  # reliable mode: remove the checkpoint files
        _delete_ckpt_files(df.sparkSession, [p])


def clear_matviews(spark: SparkSession) -> None:
    """Drop + unpersist every matview THIS session owns, and delete the
    checkpoint files its evicted reliable-mode entries deferred.

    Foreign sessions' entries are left alone (their temp views can only
    be dropped by their own session). Available to hosts that want the
    block manager clean before a memory-sensitive phase. (Measured r10:
    matview blocks do NOT slow the streaming bench lanes — an aged
    session ran q5 ~25% FASTER than a fresh one because JIT warm depth
    dominates — so bench.py deliberately does not call this.)"""
    _release(spark, kinds=("matview", "ckpt_deletes"))


def session_matview(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build_sql: str,
    distribute_by: str | None = None,
) -> str:
    """Temp-view name for the materialized ``build_sql`` relation,
    building it on first use per (session, sf_dir, ``name``) — store kind
    "matview". Spark INLINES multi-referenced CTEs, so a query naming an
    expensive derived relation k times executes it k times; routed
    through here it builds ONCE per session and later references scan
    the materialized rows. The DuckDB oracles keep their self-contained
    CTE text — DuckDB materializes multi-referenced CTEs itself.

    ``name`` must be unique per relation DEFINITION — callers own the
    namespace. The build always runs against the canonical catalog
    (``register_all(force=True)``), so a test that planted a fixture
    view without invalidating cannot poison the cache under the real
    sf_dir's key.

    ``distribute_by`` hash-partitions the materialized rows on the given
    column list and makes that partitioning VISIBLE to consumers'
    plans — the matview analogue of a bucketed table (guide §2.4): every
    downstream aggregation/window/equi-join clustered on (a superset of)
    these columns skips its Exchange entirely. Costs one extra shuffle
    at build time, paid once per session; rows are unchanged. AQE is
    disabled for the build only, because an AdaptiveSparkPlan reports
    UnknownPartitioning to the checkpoint/cache capture — the build
    shuffle therefore lands exactly spark.sql.shuffle.partitions
    partitions (sized to cores locally, config-driven on a cluster).

    Two measured hazards bound where this applies (r15 A/B):
    - exprId staleness: the captured HashPartitioning keeps the build
      plan's exprIds. If the matview's output attributes also appear in
      ANOTHER relation of a consumer query (derived matviews pass their
      parent's attributes through), DeduplicateRelations renumbers the
      LogicalRDD's output but NOT its partitioning, so the partitioning
      silently stops matching (correctness unaffected — the Exchange
      just comes back). Alias-breaking the build output (toDF) fixes
      the overlap but defeats the capture itself (measured: gopher went
      back to 6 Exchanges), so there is no safe general fix; only use
      distribute_by on matviews whose consumers reference them as the
      sole owner of those attributes.
    - lost AQE skew handling: a co-partitioned self-join skips its
      Exchanges AND AQE's runtime skew splitting. The minhash band
      self-join regressed 0.30→0.63s min / 2.4s med this way — do not
      distribute matviews whose consumers self-join on skewed keys.

    CONCURRENCY CONSTRAINT (ADVICE r15): the build toggles the
    session-global ``spark.sql.adaptive.enabled`` off and back, so any
    query planned CONCURRENTLY on the same session during the build
    window silently loses AQE (skew splitting, coalescing). Fine for
    the single-threaded bench/driver; a multi-threaded host must build
    its distribute_by matviews up front (first touch) or serialize
    builds against query planning.

    ASSUMES FIXED FIXTURE DATA under ``sf_dir`` for the session's
    lifetime: the cache key cannot see a same-path parquet rewrite. A
    host that rewrites data in place must call invalidate(), which
    releases every store entry of this session."""
    key = ("matview", sf_dir, name)
    hit = entry(spark, *key)
    if hit is not None:
        return hit.value
    register_all(spark, sf_dir, force=True)
    make_room(spark, reads=build_sql)
    view = f"{view_prefix('mv')}_{name}"
    if distribute_by is None:
        mat = materialize(spark, spark.sql(build_sql))
    else:
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            src = spark.sql(f"{build_sql}\nDISTRIBUTE BY {distribute_by}")
            mat = materialize(spark, src)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
    mat.createOrReplaceTempView(view)
    store(spark, key, view, views=(view,), frames=(mat,))
    return view


def oracle_cte_prefix() -> str:
    """``WITH …`` prefix defining all derived views for a DuckDB oracle query.

    The driver pre-registers only the base parquet tables; oracle SQL must be
    self-contained, so every oracle body gets this prefix. Unused CTEs cost
    nothing (DuckDB only materializes referenced CTEs).
    """
    parts = [f"{name} AS ({fn(DUCK)})" for name, fn in DERIVED_VIEWS.items()]
    return "WITH " + ",\n".join(parts) + "\n"


def wrap_oracle(body: str) -> str:
    """Make a DuckDB oracle body self-contained (prepend derived-view CTEs).

    If the body has its own ``WITH`` clause, the two CTE lists are merged;
    a ``WITH RECURSIVE`` body keeps the RECURSIVE keyword up front (it
    scopes the whole CTE list, non-recursive members included).
    """
    stripped = body.lstrip()
    upper = stripped.upper()
    if upper.startswith("WITH RECURSIVE"):
        rest = stripped[len("WITH RECURSIVE"):].lstrip()
        return (
            "WITH RECURSIVE "
            + oracle_cte_prefix()[len("WITH "):]
            + ", "
            + rest
        )
    if upper.startswith("WITH"):
        return oracle_cte_prefix() + ", " + stripped[len("WITH"):].lstrip()
    return oracle_cte_prefix() + body
