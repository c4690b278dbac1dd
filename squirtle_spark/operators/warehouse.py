"""Warehouse-style dimension maintenance over the ``events`` change log.

Beyond-parity: the reference engine's surface stops at DataFusion's
relational operators (SURVEY §2.10); a training-data platform additionally
maintains slowly-changing metadata tables (source catalogs, license
states, domain labels) that downstream joins must see AS OF a given time.

``scd2_dimension`` builds a Type-2 slowly-changing dimension from an
append-only change log: collapse consecutive runs of the same attribute
value (gaps-and-islands), emit one row per run with a
``[valid_from, valid_to)`` validity interval, a per-key version number,
and an ``is_current`` flag on the open-ended run.

100 TB shape: two window passes over the SAME (user_id × time) ordering —
Catalyst plans ONE keyed shuffle + sort and reuses it for LAG, LEAD and
ROW_NUMBER (no second exchange); the change-collapse filter runs between
them, so the second pass only sorts the (usually far smaller) change rows.
Nothing is corpus-global: every partition key is the dimension's natural
key, so the build scales with the busiest key's history, not the log size.
The output joins against facts with the as-of pattern
(``operators/asof.py``) or a plain BETWEEN on the validity interval
(``operators/rangejoin.py``).

The SQL is engine-shared (no dialect splits): window functions, ordered
by the (ts, event_id) total order so ties can't flip versions between
engines.
"""

from __future__ import annotations

from ..registry import register_df, register_sql


def _scd2_dimension(d: str) -> str:
    # ``d`` unused: the body is identical in Spark SQL and DuckDB.
    return """
WITH log AS (
    SELECT user_id, ts, event_type, event_id,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn
    FROM events
),
changes AS (
    -- keep the first row plus rows where the tracked attribute actually
    -- changed. NULL-safe comparison: with `prev_type != event_type` a
    -- value->NULL transition evaluates to NULL and is DROPPED (the NULL
    -- period silently inherits the prior run), and the first-row test
    -- `prev_type IS NULL` conflates with NULL-valued attributes — the
    -- explicit rn=1 keeps a first row even when its value is NULL.
    SELECT user_id, ts, event_type, event_id
    FROM log
    WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
)
SELECT user_id,
       event_type AS attr_value,
       ts AS valid_from,
       LEAD(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS valid_to,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS BIGINT) AS version,
       CAST(CASE WHEN LEAD(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM changes
"""


register_sql(
    "scd2_dimension",
    _scd2_dimension,
    doc="Type-2 slowly-changing dimension from an append-only change log: "
    "run-collapse (gaps-and-islands) + [valid_from, valid_to) validity "
    "intervals, version numbers and is_current flags; one reused keyed "
    "shuffle for all three window functions.",
    bench=True,
)


def _cdc_merge_apply(d: str) -> str:
    # ``d`` unused: the body is identical in Spark SQL and DuckDB.
    return """
WITH ranked AS (
    SELECT o_custkey, o_orderstatus, o_totalprice, o_orderkey,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rn
    FROM orders
),
-- changelog = net effect per key (latest change wins) plus the insert
-- stream (keys offset far past any real custkey so the demo insert
-- path can't collide with updates). Both streams come from the same
-- ``ranked WHERE rn = 1`` rows; the r14 form derived them as two CTEs
-- UNION ALLed together, and Spark inlines multi-referenced CTEs, so
-- the orders scan + window ran TWICE (r15 before-plan: two identical
-- scan->sort->window branches under the Union). One pass against a
-- 2-row multiplier emits the same multiset: i=0 is the old ``net``
-- row-for-row, i=1 (kept only when o_orderkey % 97 = 0) the old
-- ``inserts``.
changelog AS (
    SELECT CASE WHEN m.i = 1 THEN o_custkey + 100000000
                ELSE o_custkey END AS key,
           CASE WHEN m.i = 1 THEN 'I'
                WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
           o_totalprice AS new_balance
    FROM (SELECT * FROM ranked WHERE rn = 1) r
    CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) m
    WHERE m.i = 0 OR r.o_orderkey % 97 = 0
),
merged AS (
    SELECT COALESCE(c.c_custkey, g.key) AS key,
           c.c_name AS name,
           COALESCE(g.new_balance, c.c_acctbal) AS balance,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN g.key IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           g.op AS op
    FROM customer c
    FULL OUTER JOIN changelog g ON c.c_custkey = g.key
)
SELECT key, name, balance, action
FROM merged
WHERE op IS NULL OR op != 'D'
"""


register_sql(
    "cdc_merge_apply",
    _cdc_merge_apply,
    doc="MERGE INTO semantics (Delta/Iceberg-style CDC apply) as pure "
    "relational ops: compact the changelog to its net effect per key "
    "(one keyed window — latest change wins), then ONE full-outer "
    "shuffle join against the base dimension routes every key to "
    "insert/update/delete/keep. At 100 TB the merge pairs with "
    "maintenance.forget_keys' footer-span pruning so only files that "
    "can hold a changed key are rewritten; the join itself shuffles "
    "changelog + base once on the natural key, no driver state.",
    bench=True,
)


# ---------------------------------------------------------------------------
# Merge-on-read CDC: the READER half, driver-checked
# ---------------------------------------------------------------------------

#: Deterministic changelog derived from ``orders`` (the cdc_merge_apply
#: convention): one change per order, keyed by customer, totally ordered
#: by the unique o_orderkey; 'F' orders are delete tombstones.
_CDC_MOR_CHANGES = """
    SELECT o_custkey AS key, o_orderkey AS seq,
           CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
           o_totalprice AS val
    FROM orders
"""

#: Compaction frontier: changes at or below it form the committed base
#: snapshot, later ones the un-compacted delta-log tail. FLOOR over the
#: double quotient is exact here (o_orderkey far below 2^53) and renders
#: identically in both engines.
_CDC_MOR_CUTOFF = (
    "SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) AS cut FROM orders"
)


def _cdc_read_mor_oracle() -> str:
    """The MOR read contract as one statement: latest-per-key over the
    pre-compacted base UNION the tail must equal the live view, with
    tombstones dropped only at read time (base keeps them — a compacted
    'D' must still shadow earlier versions when the tail replays)."""
    return f"""
WITH changes AS ({_CDC_MOR_CHANGES}),
cutoffs AS ({_CDC_MOR_CUTOFF}),
base AS (
    SELECT key, seq, op, val FROM (
        SELECT c.key, c.seq, c.op, c.val,
               ROW_NUMBER() OVER (PARTITION BY c.key ORDER BY c.seq DESC) AS rn
        FROM changes c WHERE c.seq <= (SELECT cut FROM cutoffs)
    ) t WHERE rn = 1
),
tail AS (
    SELECT key, seq, op, val FROM changes
    WHERE seq > (SELECT cut FROM cutoffs)
),
merged AS (
    SELECT key, seq, op, val FROM (
        SELECT u.key, u.seq, u.op, u.val,
               ROW_NUMBER() OVER (PARTITION BY u.key ORDER BY u.seq DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM tail) u
    ) t WHERE rn = 1
)
SELECT key, seq, val FROM merged WHERE op IS NULL OR op <> 'D'
"""


def _cdc_read_mor_spark(spark, sf_dir):
    """Drive the REAL merge-on-read reader (streaming.read_cdc_mor) over a
    deterministically-built MOR table: the pre-cutoff changes are
    compacted into a committed ``v=N`` snapshot (maintenance.
    versioned_write — tombstones kept, the compact_cdc_mor rule), the
    post-cutoff tail lands as two ``log/b=*`` delta entries, and the
    reader merges snapshot ∪ tail per key and drops tombstones — the
    Hudi-MOR read path (reference sink contract:
    flock/src/datasink/mod.rs:47-72, which only ever publishes full
    snapshots; the log/compaction split is the scale lane cdc_mor_sink
    adds). The DuckDB oracle replays the identical base/tail/merge
    arithmetic relationally, so the driver row vouches for the reader's
    on-storage layout handling, not just the SQL."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .. import catalog, streaming
    from . import maintenance

    def build() -> str:
        cut = spark.sql(_CDC_MOR_CUTOFF).first()["cut"]
        changes = spark.sql(_CDC_MOR_CHANGES)
        table = tempfile.mkdtemp(prefix="cdc-mor-read-")
        base = streaming._latest_per_key(
            changes.where(F.col("seq") <= cut), ["key"], "seq"
        )
        maintenance.versioned_write(spark, base, table)
        tail = changes.where(F.col("seq") > cut)
        tail.where(F.col("seq") % 2 == 0).write.parquet(f"{table}/log/b=0")
        tail.where(F.col("seq") % 2 == 1).write.parquet(f"{table}/log/b=1")
        return table

    # Build once per (session, sf_dir) and reuse: the registry entry is
    # re-invoked by every oracle sweep and driver check, and an uncached
    # build would leave a fresh orders-scale temp dir (and pay the full
    # snapshot+log write) per call (round-7 review finding). The dir must
    # outlive this call — the returned DataFrame reads it lazily — so it
    # lives in the catalog's session store (kind "cdc_mor") until
    # catalog.invalidate releases it, which removes the dir; the next
    # call then rebuilds from the current data.
    table = catalog.memo(
        spark,
        ("cdc_mor", sf_dir),
        build,
        release=lambda path: shutil.rmtree(path, ignore_errors=True),
    )
    return streaming.read_cdc_mor(
        spark, table, op_col="op", keys=["key"], seq_col="seq"
    )


register_df(
    "cdc_read_mor",
    _cdc_read_mor_spark,
    oracle_body=_cdc_read_mor_oracle(),
    doc="Merge-on-read CDC reader: committed snapshot + delta-log tail "
    "merged per key at read time, tombstones dropped last — the reader "
    "half of cdc_mor_sink's LSM contract, driven over a real on-disk "
    "table (versioned snapshot + log/b=* entries).",
)
