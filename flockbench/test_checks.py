"""The output checks: the DuckDB stream oracles agree with hand-computed
results on a tiny replay, and every check rejects an output perturbed by
one row or one count (``python -m pytest flockbench -q``; no Spark)."""

import datetime as dt
import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from checks import SENTINEL_EPOCH, check_frame, check_total, stream_oracles

BASE = dt.datetime(2024, 1, 1)
HOP_SQL = "SELECT COUNT(*) AS n, CAST(SUM(price) AS BIGINT) AS total FROM bid"


def _t(s: float) -> dt.datetime:
    return BASE + dt.timedelta(seconds=s)


def _write(path, epoch, cols: dict):
    d = os.path.join(path, f"epoch={epoch}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))


def _bids(rows):
    auction, bidder, price, ts = zip(*rows)
    return {
        "auction": pa.array(auction, pa.int64()),
        "bidder": pa.array(bidder, pa.int64()),
        "price": pa.array(price, pa.int32()),
        "b_date_time": pa.array([_t(s) for s in ts], pa.timestamp("us")),
    }


@pytest.fixture(scope="module")
def oracles(tmp_path_factory):
    root = tmp_path_factory.mktemp("replay")
    dirs = {k: str(root / k) for k in ("bids", "bids_api")}
    bids = [(1, 10, 100, 1), (1, 11, 300, 3), (2, 10, 300, 6), (2, 10, 50, 12), (3, 12, 70, 14)]
    for sub in ("bids", "bids_api"):
        _write(dirs[sub], 0, _bids(bids[:3]))
        _write(dirs[sub], 1, _bids(bids[3:]))
    # the watermark flush sentinel never counts as input
    _write(dirs["bids"], SENTINEL_EPOCH, _bids([(-1, -1, 1, 3600)]))
    con = duckdb.connect()
    try:
        return stream_oracles(con, dirs, HOP_SQL, (4, 2))
    finally:
        con.close()


def _frame(rows, cols):
    df = pd.DataFrame(rows, columns=cols)
    for c in cols:
        if c in ("starttime", "endtime", "b_date_time", "win_start"):
            df[c] = pd.to_datetime(df[c])
    return df


def _ts(s):
    return pd.Timestamp(_t(s))


EXPECTED = {
    # hopping 10 s / 5 s windows; ties all kept
    "q5": _frame(
        [(1, 2, _ts(-5)), (1, 2, _ts(0)), (2, 2, _ts(5)), (2, 1, _ts(10)), (3, 1, _ts(10))],
        ["auction", "num", "starttime"],
    ),
    "q11": _frame(
        [(10, 3, _ts(1), _ts(22)), (11, 1, _ts(3), _ts(13)), (12, 1, _ts(14), _ts(24))],
        ["bidder", "bid_count", "starttime", "endtime"],
    ),
    # 4 s / 2 s hopping windows
    "api_hopping": _frame(
        [(1, 100, _ts(-2)), (2, 400, _ts(0)), (1, 300, _ts(2)), (1, 300, _ts(4)),
         (1, 300, _ts(6)), (1, 50, _ts(10)), (2, 120, _ts(12)), (1, 70, _ts(14))],
        ["n", "total", "win_start"],
    ),
}


@pytest.mark.parametrize("op", sorted(EXPECTED))
def test_stream_oracle_matches_hand_computed(oracles, op):
    assert check_frame(op, EXPECTED[op], oracles[op]) is None


def test_input_counts_exclude_the_sentinel(oracles):
    assert oracles["n_bids"] == 5


def test_conservation_totals(oracles):
    n = oracles["n_bids"]
    assert check_total("q11", EXPECTED["q11"]["bid_count"].sum(), n) is None
    assert check_total("hopping", EXPECTED["api_hopping"]["n"].sum(), 2 * n) is None


@pytest.mark.parametrize("op", sorted(EXPECTED))
def test_check_rejects_one_row_more_or_less(oracles, op):
    got = oracles[op]
    assert check_frame(op, got.iloc[1:], got) is not None
    assert check_frame(op, pd.concat([got, got.iloc[:1]], ignore_index=True), got) is not None


@pytest.mark.parametrize("op", sorted(EXPECTED))
def test_check_rejects_one_count_off(oracles, op):
    got = oracles[op].copy()
    col = [c for c in got.columns if pd.api.types.is_integer_dtype(got[c])][-1]
    got.loc[0, col] += 1
    assert check_frame(op, got, oracles[op]) is not None


def test_total_check_rejects_one_count_off():
    assert check_total("q11 bid_count", 6, 5) is not None
    assert check_total("hopping n", 9, 10) is not None
