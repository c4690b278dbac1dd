"""Cross-engine agreement of the dialect helpers on adversarial inputs.

The entire oracle strategy rests on dialect.py rendering the SAME
semantics in Spark SQL and DuckDB. The query-level oracle exercises them
on fixture data; this test hits the edges fixtures may miss: timestamps
exactly ON window boundaries, 1 µs before/after, sub-second fractions,
empty/whitespace-only/short texts, and negative-free modular arithmetic.
"""

import datetime as dt
import random

import duckdb
import pandas as pd

from squirtle_spark import dialect as dl
from squirtle_spark.oracle import compare_frames

TUMBLE = 3600
SLIDE = 300


def _inputs() -> pd.DataFrame:
    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    ts: list[dt.datetime] = []
    # boundary adversaries: on/±1µs around tumble and slide boundaries
    for k in (0, 1, 7, 24, 100):
        b = base + dt.timedelta(seconds=k * TUMBLE)
        ts += [b, b - dt.timedelta(microseconds=1), b + dt.timedelta(microseconds=1)]
        s = base + dt.timedelta(seconds=k * SLIDE)
        ts += [s, s - dt.timedelta(microseconds=1)]
    # random microsecond-resolution points over ~2 years
    ts += [
        base + dt.timedelta(seconds=rng.randrange(0, 2 * 365 * 86400), microseconds=rng.randrange(0, 1_000_000))
        for _ in range(200)
    ]
    texts = [
        "",
        " ",
        "   \t  ",
        "one",
        "two words",
        "three small words",
        "exactly four tiny words",
        "a  b   c    d",  # runs of spaces
        " leading and trailing ",
        "Case MIXED case Words case",
    ] + [
        " ".join(rng.choice(["alpha", "beta", "gamma", "delta", "x"]) for _ in range(rng.randrange(0, 12)))
        for _ in range(100)
    ]
    n = max(len(ts), len(texts))
    return pd.DataFrame(
        {
            "id": range(n),
            "ts": [ts[i % len(ts)] for i in range(n)],
            "n_sec": [rng.randrange(0, 10 * 86400) for _ in range(n)],
            "text": [texts[i % len(texts)] for i in range(n)],
        }
    )


def _body(d: str) -> str:
    return f"""
SELECT id,
       {dl.epoch_s('ts', d)} AS e,
       {dl.tumble_start('ts', TUMBLE, d)} AS tum,
       {dl.hop_bucket('ts', SLIDE, d)} AS hop,
       {dl.secadd('ts', 'n_sec', d)} AS sa,
       {dl.ts_from_s(dl.epoch_s('ts', d), d)} AS rt,
       {dl.intdiv('n_sec', '7', d)} AS idv,
       {dl.array_len(dl.split_tokens('text', d), d)} AS n_tok,
       {dl.array_len(dl.word_shingles(dl.split_tokens('text', d), 3, d), d)} AS n_sh,
       {dl.regex_count('text', '[a-z]+', d)} AS n_runs,
       {dl.datefmt('ts', 'date', d)} AS d_date,
       {dl.datefmt('ts', 'hm', d)} AS d_hm,
       {dl.regex_replace_all('text', '[aeiou]', '_', d)} AS devowel,
       {dl.to_int('n_sec / 7.0', d)} AS flo
FROM dial
"""


def test_dialect_helpers_agree_cross_engine(spark, tmp_path):
    pdf = _inputs()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet µs, not NANOS
    path = str(tmp_path / "dial.parquet")
    pdf.to_parquet(path)

    sdf = spark.read.parquet(path)
    if dict(sdf.dtypes)["ts"] == "timestamp":
        sdf = sdf.withColumn("ts", sdf["ts"].cast("timestamp_ntz"))
    sdf.createOrReplaceTempView("dial")
    got = spark.sql(_body(dl.SPARK)).toPandas()

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW dial AS SELECT * FROM '{path}'")
        want = con.sql(_body(dl.DUCK)).df()
    finally:
        con.close()

    res = compare_frames("dialect", got, want)
    assert res.ok, res.message()


def test_pii_patterns_match_in_both_engines(spark, tmp_path):
    """The fixture corpus has no PII, so pii_scrub's oracle equality is
    vacuous there; this feeds real emails/IPs/phones through BOTH engines
    and also pins expected counts (catches the classic double-backslash
    dialect bug, where DuckDB would receive literal '\\\\d' and match
    nothing while both engines happily agree on zero)."""
    from squirtle_spark.operators.pii import PII_PATTERNS, sql_pattern

    pdf = pd.DataFrame(
        {
            "id": range(6),
            "text": [
                "mail me at jane.doe+spam@example.co.uk today",
                "server at 192.168.001.12 rebooted, backup 10.0.0.7",
                "call 555-867-5309 or 020 7946 0958",
                "no pii here at all",
                "a@b.io and 1.2.3.4 and 555-123-4567 all at once",
                "",
            ],
        }
    )
    path = str(tmp_path / "pii.parquet")
    pdf.to_parquet(path)

    def body(d):
        email, ipv4, phone = (
            sql_pattern(PII_PATTERNS["email"], d),
            sql_pattern(PII_PATTERNS["ipv4"], d),
            sql_pattern(PII_PATTERNS["phone"], d),
        )
        return f"""
SELECT id,
       {dl.regex_count('text', email, d)} AS n_email,
       {dl.regex_count('text', ipv4, d)} AS n_ip,
       {dl.regex_count('text', phone, d)} AS n_phone,
       {dl.regex_replace_all('text', email, '<EMAIL>', d)} AS scrubbed
FROM pii
"""

    spark.read.parquet(path).createOrReplaceTempView("pii")
    got = spark.sql(body(dl.SPARK)).toPandas()

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW pii AS SELECT * FROM '{path}'")
        want = con.sql(body(dl.DUCK)).df()
    finally:
        con.close()

    res = compare_frames("pii", got, want)
    assert res.ok, res.message()
    by_id = got.sort_values("id")
    assert list(by_id["n_email"]) == [1, 0, 0, 0, 1, 0]
    assert list(by_id["n_ip"]) == [0, 2, 0, 0, 1, 0]
    assert list(by_id["n_phone"]) == [0, 0, 2, 0, 1, 0]
    assert "<EMAIL>" in by_id["scrubbed"].iloc[0]


def test_hash_primitives_agree_cross_engine(spark, tmp_path):
    """md5_i64 / bxor / shiftr and the minhash permutation arithmetic must
    be bit-identical across engines — every fuzzy-dedup/ANN oracle replay
    rests on them."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "id": range(6),
            "s": ["", "a", "the quick brown fox", "ümlaut", "mh|x y z", "7|seed"],
        }
    )
    path = str(tmp_path / "hashes.parquet")
    pdf.to_parquet(path)

    def body(d: str) -> str:
        h = dl.md5_i64("s", d)
        x = f"(({h}) & 4294967295)"
        return f"""
SELECT id,
       {h} AS h64,
       ((1046527 * {x} + 998244353) % 4294967311) AS perm,
       {dl.bxor(h, str(0x5A5A5A5A), d)} AS xored,
       ({dl.shiftr(h, "7", d)}) & 255 AS shifted
FROM hashes
"""

    spark.read.parquet(path).createOrReplaceTempView("hashes")
    got = spark.sql(body(dl.SPARK)).toPandas()

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW hashes AS SELECT * FROM '{path}'")
        want = con.sql(body(dl.DUCK)).df()
    finally:
        con.close()

    res = compare_frames("hashes", got, want)
    assert res.ok, res.message()
    # 60-bit positive range, and distinct inputs hash apart
    assert (got["h64"] >= 0).all() and (got["h64"] < (1 << 60)).all()
    assert got["h64"].nunique() == len(got)


def test_pii_redaction_matches_python_re(spark):
    """Third-engine check: on a seeded random corpus with PII planted at
    random positions, Spark's nested regexp_replace must equal Python
    re.sub applying the SAME shared patterns in the same order — and
    redaction must be idempotent (masks never re-match any detector)."""
    import random
    import re as pyre

    from squirtle_spark.operators.pii import PII_MASKS, PII_PATTERNS, redact_expr

    rng = random.Random(20260814)
    words = ["alpha", "beta", "gamma", "delta", "x9", "dot.com", "a@b", "@", "10.2"]
    pii = [
        lambda: f"user{rng.randint(0,99)}@mail{rng.randint(0,9)}.org",
        lambda: f"{rng.randint(1,255)}.{rng.randint(0,255)}.{rng.randint(0,255)}.{rng.randint(0,255)}",
        lambda: f"{rng.randint(100,999)}-{rng.randint(100,9999)}-{rng.randint(1000,9999)}",
    ]
    rows = []
    for i in range(200):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 12))]
        for _ in range(rng.randint(0, 3)):
            toks.insert(rng.randint(0, len(toks)), rng.choice(pii)())
        rows.append((i, " ".join(toks)))

    def py_redact(t):
        for kind, pat in PII_PATTERNS.items():
            t = pyre.sub(pat, PII_MASKS[kind], t)
        return t

    spark.createDataFrame(rows, "id long, text string").createOrReplaceTempView(
        "pii_fuzz"
    )
    got = {
        r["id"]: r["red"]
        for r in spark.sql(
            f"SELECT id, {redact_expr('text', dl.SPARK)} AS red FROM pii_fuzz"
        ).collect()
    }
    for i, t in rows:
        assert got[i] == py_redact(t), (i, t, got[i], py_redact(t))
        assert py_redact(got[i]) == got[i]  # idempotent


def test_levenshtein_codepoints_cross_engine(spark):
    """dialect.levenshtein_codepoints: Spark (natively code-point) and the
    DuckDB recode shim must agree on multi-byte text — the r12
    differential exclusion this helper closes. Third-engine check: both
    must equal Python's code-point DP on the same pairs."""
    import duckdb

    def py_lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    pairs = [
        ("🚀🚀", "ab"),
        ("café", "cafe"),
        ("数据查询", "数据检索"),
        ("hello", "hello!"),
        ("мир", "мip"),
        ("naïve 🚀 données", "naive 🚀 donnees"),
        ("χ² мир", "χ² мир!"),
        ("abc", "abc"),
    ]
    # ADVICE r13 guard edges: empty sides (DuckDB string_split('','') is
    # ['']) and alphabets just under the widened 127-symbol cap
    wide = "".join(chr(0x4E00 + i) for i in range(63))  # 63 CJK cp
    pairs += [("", ""), ("", "abc"), ("héllo", ""), (wide, wide + "魚")]
    con = duckdb.connect()
    for a, b in pairs:
        want = py_lev(a, b)
        duck = con.sql(
            f"SELECT {dl.levenshtein_codepoints(f'$${a}$$', f'$${b}$$', dl.DUCK)}"
        ).fetchone()[0]
        spk = spark.sql(
            f"SELECT {dl.levenshtein_codepoints(repr(a), repr(b), dl.SPARK)}"
        ).collect()[0][0]
        assert duck == spk == want, (a, b, duck, spk, want)


def test_levenshtein_codepoints_null_and_cap_degrade_to_null(spark):
    """ADVICE r13: a NULL input or a >127-symbol joint alphabet must yield
    NULL in BOTH dialects (per-pair exclusion), never error() the query —
    the r13 lane-crash risk on a unicode-rich seed."""
    import duckdb

    over = "'" + "".join(chr(0x4E00 + i) for i in range(130)) + "'"
    con = duckdb.connect()
    cases = [("NULL", "'abc'"), ("'abc'", "NULL"), (over, "'abc'")]
    for a, b in cases:
        duck = con.sql(
            f"SELECT {dl.levenshtein_codepoints(a, b, dl.DUCK)}"
        ).fetchone()[0]
        spk = spark.sql(
            f"SELECT {dl.levenshtein_codepoints(a, b, dl.SPARK)}"
        ).collect()[0][0]
        assert duck is None and spk is None, (a, b, duck, spk)
    # just-at-cap still computes (127 distinct symbols in the pair)
    at = "'" + "".join(chr(0x4E00 + i) for i in range(126)) + "'"
    atb = "'" + "".join(chr(0x4E00 + i) for i in range(125)) + "魚'"
    duck = con.sql(
        f"SELECT {dl.levenshtein_codepoints(at, atb, dl.DUCK)}"
    ).fetchone()[0]
    spk = spark.sql(
        f"SELECT {dl.levenshtein_codepoints(at, atb, dl.SPARK)}"
    ).collect()[0][0]
    assert duck == spk == 1, (duck, spk)


def test_gsum_gavg_duck_branch_byte_identical_to_dsum_davg():
    """gsum/gavg's DuckDB branch must render BYTE-identical to dsum/davg:
    the r15 dsum->gsum call-site swaps (e.g. windows.py oracle bodies)
    are provably no-ops on the oracle side only while this holds — the
    r16 adjudication of the win_session/win_tumbling drift rows cites
    this invariant (BENCH_DETAIL_r16.json 'adjudications')."""
    for x in ("value", "l_extendedprice * (1 - l_discount)"):
        assert dl.gsum(x, dl.DUCK) == dl.dsum(x, dl.DUCK)
        assert dl.gavg(x, dl.DUCK) == dl.davg(x, dl.DUCK)


def test_grid_sum_row_cap_bounds_every_limb_and_fires(spark, monkeypatch):
    """ADVICE r15: the old 9e12 row cap only bounded the <10^6 mid/lo
    limbs — the hi limb scales with per-row magnitude. The fix is a
    STATIC bound, not a runtime guard (a COUNT(*) x MAX(ABS(hi)) guard
    A/B'd +4-8% on tpch_q1): |hi| <= (2^63-1) DIV 10^12 because
    ``scaled`` is an ANSI BIGINT cast that raises per row, so
    GRID_GROUP_ROW_CAP = 1e12 bounds all three limb sums. This test
    pins the three premises: the arithmetic, the ANSI raise, and the
    cap predicate actually firing."""
    import pytest

    # 1. the static arithmetic that makes the cap sufficient
    hi_max = ((1 << 63) - 1) // (dl.GRID_LIMB * dl.GRID_LIMB)
    assert dl.GRID_GROUP_ROW_CAP * hi_max < (1 << 63) - 1
    assert dl.GRID_GROUP_ROW_CAP * (dl.GRID_LIMB - 1) < (1 << 63) - 1

    # 2. the per-row cast raises (ANSI), it does not wrap — the premise
    #    that bounds |scaled| and hence |hi|
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        spark.sql(f"SELECT {dl.grid_scaled('1e19', 4)}").collect()

    # 3. the cap predicate fires (cap lowered so 2 rows trip it)
    sdf = spark.createDataFrame([("a", 1.5), ("a", 2.5)], "g string, value double")
    sdf.createOrReplaceTempView("cap_probe")
    monkeypatch.setattr(dl, "GRID_GROUP_ROW_CAP", 2)
    lowered = dl.gsum("value", dl.SPARK)
    monkeypatch.undo()
    with pytest.raises(Exception, match="spark_grid_sum"):
        spark.sql(f"SELECT g, {lowered} AS s FROM cap_probe GROUP BY g").collect()
    ok = spark.sql(
        "SELECT g, {} AS s FROM cap_probe GROUP BY g".format(
            dl.gsum("value", dl.SPARK)
        )
    ).collect()
    assert float(ok[0]["s"]) == 4.0


def test_grid_sum_avg_match_decimal_idiom_on_nulls_and_negatives(spark):
    """The r15 BIGINT-limb rewrite (gsum/gavg) must be value-identical to
    the decimal-cast idiom (dsum/davg) it replaced, on exactly the edges
    the driver fixtures miss: NULL values (the differential generator
    plants ~3% NULL events.value), an all-NULL group, a single-row group,
    and negative on-grid values (limb DIV/% identities under truncating
    division). gavg must keep davg's COUNT(*) divisor — both dialect
    branches declare sum/COUNT(*) semantics, so 'fixing' either side to
    COUNT(x) alone would diverge the engines on NULL-bearing seeds."""
    import duckdb as ddb

    rows = [
        ("a", 1.5), ("a", None), ("a", -2.25), ("a", 490.1234),
        ("b", None), ("b", None),          # all-NULL group
        ("c", 0.0001),                     # single row, smallest grid step
        ("d", -0.0001), ("d", 123456.789),
    ]
    sdf = spark.createDataFrame(rows, "g string, value double")
    sdf.createOrReplaceTempView("grid_probe")
    q = (
        "SELECT g, {gs} AS s, {ga} AS a FROM grid_probe GROUP BY g ORDER BY g"
    )
    got = spark.sql(
        q.format(gs=dl.gsum("value", dl.SPARK), ga=dl.gavg("value", dl.SPARK))
    ).collect()
    want_spark = spark.sql(
        q.format(gs=dl.dsum("value", dl.SPARK), ga=dl.davg("value", dl.SPARK))
    ).collect()
    con = ddb.connect()
    con.execute("CREATE TABLE grid_probe (g VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO grid_probe VALUES (?, ?)", rows)
    want_duck = con.sql(
        q.format(gs=dl.dsum("value", dl.DUCK), ga=dl.davg("value", dl.DUCK))
    ).fetchall()
    for g, w, wd in zip(got, want_spark, want_duck):
        assert g[0] == w[0] == wd[0]
        for i in (1, 2):
            if w[i] is None:
                assert g[i] is None and wd[i] is None, (g, w, wd)
            else:
                assert g[i] == w[i] == wd[i], (g, w, wd)
