"""Pure-python bench.py helpers (no Spark): the stdout-line shedding
contract and the round/record discovery that drift attribution relies on.
The measurement paths themselves are exercised by the per-round bench
runs; these guard the plumbing the driver's parse depends on."""

import json

import bench


def _payload(n_queries: int) -> dict:
    return {
        "metric": "headline_total_sec",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"query_{i:03d}": 0.123 for i in range(n_queries)},
        "sf": 0.1,
        "canary": {"cal_sec": 0.1, "max_sec": 0.2, "reruns": 0, "dirty_queries": 0},
        "streaming": {"q5_events_per_sec": 10000.0},
        "drift": {"checked": 0, "noise": 0, "plan_change": 0, "other": []},
        "detail": "BENCH_DETAIL_r99.json",
    }


def test_compact_line_under_cap_sheds_nothing():
    line = bench._compact_line(_payload(40))
    assert len(line) <= 2000
    parsed = json.loads(line)
    assert "queries" in parsed and "shed_to_detail" not in parsed


def test_compact_line_sheds_in_order_until_under_cap():
    # ~400 queries -> ~10 KB of per-query times: queries must survive
    # only if the line fits; optional sections go first, in order.
    line = bench._compact_line(_payload(400))
    assert len(line) <= 2000
    parsed = json.loads(line)
    # mandatory keys always survive
    for key in ("metric", "value", "unit", "sf", "detail"):
        assert key in parsed
    shed = parsed["shed_to_detail"]
    assert shed == ["drift", "streaming", "canary", "queries"][: len(shed)]
    # and the line parses as one JSON object — the driver's whole ask
    assert json.loads(line)["metric"] == "headline_total_sec"


def test_compact_line_does_not_mutate_caller_and_takes_custom_order():
    # the stress path persists the SAME payload dict after rendering —
    # shedding must work on a copy, and the shed order is caller-chosen
    p = {
        "metric": "stress_events_per_sec",
        "value": 1.0,
        "state_operators": {"q8": {"peak_rows": 1}},
        "big": "y" * 3000,
    }
    line = bench._compact_line(p, shed_order=("state_operators", "big"))
    assert len(line) <= 2000
    assert "state_operators" in p and "big" in p  # caller dict intact
    parsed = json.loads(line)
    assert parsed["shed_to_detail"] == ["state_operators", "big"]
    assert parsed["metric"] == "stress_events_per_sec"


def test_round_number_is_stable_across_same_round_reruns():
    # r13 rule: max(newest CORRECTNESS + 1, newest BENCH). Must be past
    # every COMPLETED round (CORRECTNESS is the driver's round-end stamp)
    # and must NOT advance just because this round's own bench record
    # already landed (the r13 --stress rerun stamped r14 under the old
    # BENCH+1 rule).
    import glob
    import os
    import re

    here = os.path.dirname(os.path.abspath(bench.__file__))

    def newest(pat):
        # skip names the round regex doesn't match (e.g. the r15 8-core
        # record BENCH_r15_c8.json), mirroring bench._rounds_glob
        matches = (
            re.search(r"_r(\d+)\.json$", f)
            for f in glob.glob(os.path.join(here, pat))
        )
        return max(int(m.group(1)) for m in matches if m)

    rnd = bench._round_number()
    assert rnd == max(newest("CORRECTNESS_r*.json") + 1, newest("BENCH_r*.json"))
    assert rnd > newest("CORRECTNESS_r*.json")


def test_prev_record_prefers_detail_and_carries_fingerprints():
    """The drift baseline is the newest same-sf BENCH_DETAIL of an
    earlier round, read whole: query walls, v4 plan fingerprints, the
    streaming section and the drift rows all come from this one record."""
    rnd, rec = bench._prev_record(sf=0.1)
    assert rnd >= 16  # r16 is the oldest record on the current fingerprint
    # never a FUTURE round and never the current round's own record
    assert rnd < bench._round_number()
    assert rec["sf"] == 0.1
    assert rec["fingerprint_version"] == bench.FINGERPRINT_VERSION
    assert rec["queries"] and rec["streaming"]
    assert all(isinstance(v, (int, float)) for v in rec["queries"].values())
    assert all(isinstance(v, str) for v in rec["plan_fingerprints"].values())
    assert all(isinstance(v, str) for v in rec["index_fingerprints"].values())


def test_prev_record_skips_other_scale_factors():
    # an sf nobody ever benched at: no record may match — a stray
    # local run at another sf must never poison drift attribution
    assert bench._prev_record(sf=123.456) == (0, {})


def test_rounds_glob_skips_nonnumeric_names(tmp_path, monkeypatch):
    # an editor backup or hand-named file matching the glob must be
    # SKIPPED, not crash the sort key (ADVICE r8: the unguarded
    # re.search(...).group(1) aborted the whole run post-measurement)
    for n in ("BENCH_r03.json", "BENCH_rX.json", "BENCH_r.json"):
        (tmp_path / n).write_text("{}")
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    got = bench._rounds_glob("BENCH_r*.json")
    assert got == [(3, str(tmp_path / "BENCH_r03.json"))]


def test_plan_fingerprint_stable_under_session_aging(spark, sf_dir):
    """Multi-COUNT(DISTINCT) plans render with permuted Expand gid slots
    as session state moves; the gid canonicalization must hash those
    renders identically, and a gid-free plan must hash identically too."""
    from squirtle_spark.registry import load_all

    qs = load_all()
    names = ("dq_profile", "interval_overlap_join", "tpch_q6")
    before = {n: bench._plan_fingerprint(qs[n].spark_fn(spark, sf_dir)) for n in names}
    # age the session: plan+run a few unrelated queries
    for other in ("tfidf_top_terms", "bm25_topk", "agg_event_stats"):
        qs[other].spark_fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    after = {n: bench._plan_fingerprint(qs[n].spark_fn(spark, sf_dir)) for n in names}
    assert before == after
    assert all(len(fp) == 12 for fp in before.values())


def test_stress_classifier_noise_floor_comes_from_canary():
    """With a canary window recorded, the noise adjudication must key on
    the canary's relative spread (host evidence), not the lane's own
    2-3-sample min/max; without one the sample-spread rule applies."""
    prev = {"x_wall_sec": 10.0}

    def stats(mn, mx, canary_spread=None):
        s = {
            "n_samples": 3,
            "samples_sec": [mx, (mn + mx) / 2, mn],
            "min_sec": mn,
            "max_sec": mx,
            "dirty": False,
        }
        if canary_spread is not None:
            s["canary_rel_spread"] = canary_spread
        return s

    # delta -30%; canary window spread 16% -> floor 32% >= 30% -> noise
    d = bench._lane_drift(11, prev, {"x": stats(7.0, 7.2, canary_spread=0.16)})
    row = d["beyond_tolerance"]["x"]
    assert row["class"] == "noise" and "canary noise floor" in row["evidence"]
    assert row["canary_noise_floor_pct"] == 32.0

    # same delta; canary quiet (2%) -> floor 4% < 30% -> improved, even
    # though the lane's OWN spread (7.0..7.2 vs a hypothetical wide one)
    # no longer gets a say
    d = bench._lane_drift(11, prev, {"x": stats(7.0, 9.9, canary_spread=0.02)})
    assert d["beyond_tolerance"]["x"]["class"] == "improved"

    # no canary window recorded: the sample-spread rule applies
    d = bench._lane_drift(11, prev, {"x": stats(7.0, 9.9)})
    row = d["beyond_tolerance"]["x"]
    assert row["class"] == "noise" and "spread rule" in row["evidence"]


def test_stress_noise_watch_carries_baseline_and_catches_launder():
    """Stress/stream lanes record min-of-N directly, so a real
    regression classed 'noise' in a hot window would become the next
    round's comparison base. A prior noise row on a large delta must
    force a row even when the new delta is within tolerance, adjudicated
    against the PRE-NOISE baseline: reverted -> noise-reverted; still
    elevated on a quiet canary -> regressed-vs-baseline; still elevated
    on a jittery canary -> noise-sustained (watch renews)."""

    def prev_record(prev_wall, noise_delta_pct):
        return {
            "x_wall_sec": prev_wall,
            "drift": {
                "beyond_tolerance": {
                    "x": {
                        "class": "noise",
                        "delta_pct": noise_delta_pct,
                        "prev_round": 11,
                        "prev_wall_sec": 10.0,  # the pre-noise baseline
                    }
                }
            },
        }

    def stats(mn, canary_spread):
        return {
            "n_samples": 3,
            "samples_sec": [mn, mn, mn],
            "min_sec": mn,
            "max_sec": mn,
            "dirty": False,
            "canary_rel_spread": canary_spread,
        }

    # prior round: 10.0 -> 12.5 classed noise. Now 12.4 (within tol of
    # 12.5) on a QUIET canary but still +24% over the 10.0 baseline:
    # the launder is caught.
    d = bench._lane_drift(12, prev_record(12.5, 25.0), {"x": stats(12.4, 0.02)})
    row = d["beyond_tolerance"]["x"]
    assert row["class"] == "regressed-vs-baseline"
    assert row["baseline_wall_sec"] == 10.0 and row["baseline_round"] == 11

    # same but the wall reverted to the baseline: debt closed
    d = bench._lane_drift(12, prev_record(12.5, 25.0), {"x": stats(10.2, 0.02)})
    assert d["beyond_tolerance"]["x"]["class"] == "noise-reverted"

    # still elevated but THIS window's canary is jittery too (floor 2 x
    # 0.15 = 30% >= the 24% baseline delta, raw floor under the cap): renew
    d = bench._lane_drift(12, prev_record(12.5, 25.0), {"x": stats(12.4, 0.15)})
    assert d["beyond_tolerance"]["x"]["class"] == "noise-sustained"

    # ADVICE r13: raw floor BEYOND the cap (2 x 0.5 = 100% > 50%) can
    # certify nothing — not "regressed on a QUIET canary", not noise via
    # the capped floor; the forced row must say so and renew the watch
    d = bench._lane_drift(12, prev_record(12.5, 25.0), {"x": stats(12.4, 0.5)})
    row = d["beyond_tolerance"]["x"]
    assert row["class"] == "unmeasurable"
    assert "QUIET" not in row["evidence"]

    # ...and an unmeasurable slowdown row carries the watch next round
    # exactly like a noise one (it recorded min-of-N as the new base too)
    prev = prev_record(12.5, 25.0)
    prev["drift"]["beyond_tolerance"]["x"]["class"] = "unmeasurable"
    d = bench._lane_drift(12, prev, {"x": stats(12.4, 0.02)})
    assert d["beyond_tolerance"]["x"]["class"] == "regressed-vs-baseline"

    # a prior noise row on an IMPROVEMENT (or small delta) forces nothing
    d = bench._lane_drift(12, prev_record(10.3, 3.0), {"x": stats(10.2, 0.02)})
    assert "x" not in d["beyond_tolerance"]


def test_host_load_stamp_reads_proc_loadavg():
    """_host_load reads real /proc/loadavg and applies the settled-host
    thresholds the measurement discipline documents (1m < 0.3, 5m < 0.5)
    — the stamp that makes an unsettled record machine-visible instead
    of letting it masquerade as a quiet one (r14: the first bench run at
    5-min load 0.84 convicted four queries the settled re-run acquitted).
    """
    h = bench._host_load()
    assert h is not None  # CI runs on Linux
    assert set(h) == {"load_1m", "load_5m", "settled"}
    assert h["load_1m"] >= 0.0 and h["load_5m"] >= 0.0
    assert h["settled"] == (
        h["load_1m"] < bench._SETTLED_1M and h["load_5m"] < bench._SETTLED_5M
    )


def test_settle_gate_settled_start_no_wait():
    """A settled start passes through instantly with the gate stamped
    settled-at-start (VERDICT r14 #1: the gate exists so driver-run
    records are settled by construction, not by luck)."""
    load = {"load_1m": 0.0, "load_5m": 0.1, "settled": True}
    out, stamp = bench._settle_gate(load)
    assert out is load
    assert stamp == {"waited_s": 0, "outcome": "settled-at-start"}


def test_settle_gate_times_out_with_honest_stamp(monkeypatch):
    """An unsettled host that never quiets inside the bound proceeds —
    the gate must not hang the driver — but stamps wait-timeout so the
    record can't masquerade as quiet."""
    monkeypatch.setenv("SPARK_GRAFT_SETTLE_WAIT_S", "0.05")
    monkeypatch.setattr(bench, "_SETTLE_POLL_S", 0.01)
    busy = {"load_1m": 9.0, "load_5m": 9.0, "settled": False}
    monkeypatch.setattr(bench, "_host_load", lambda: dict(busy))
    out, stamp = bench._settle_gate(dict(busy))
    assert out["settled"] is False
    assert stamp["outcome"] == "wait-timeout"
    assert stamp["waited_s"] >= 0.05


def test_settle_gate_returns_when_host_quiets(monkeypatch):
    """The gate polls and returns the first settled reading."""
    monkeypatch.setenv("SPARK_GRAFT_SETTLE_WAIT_S", "5")
    monkeypatch.setattr(bench, "_SETTLE_POLL_S", 0.01)
    readings = iter(
        [
            {"load_1m": 2.0, "load_5m": 1.0, "settled": False},
            {"load_1m": 0.1, "load_5m": 0.2, "settled": True},
        ]
    )
    monkeypatch.setattr(bench, "_host_load", lambda: next(readings))
    busy = {"load_1m": 3.0, "load_5m": 2.0, "settled": False}
    out, stamp = bench._settle_gate(busy)
    assert out["settled"] is True
    assert stamp["outcome"] == "settled-after-wait"


def test_settle_gate_disabled_and_unavailable(monkeypatch):
    """SPARK_GRAFT_NO_SETTLE_WAIT=1 skips the wait (CI); a None load
    (off-Linux) is stamped load-unavailable, never waited on."""
    monkeypatch.setenv("SPARK_GRAFT_NO_SETTLE_WAIT", "1")
    busy = {"load_1m": 9.0, "load_5m": 9.0, "settled": False}
    out, stamp = bench._settle_gate(dict(busy))
    assert stamp["outcome"] == "disabled" and out["settled"] is False
    monkeypatch.delenv("SPARK_GRAFT_NO_SETTLE_WAIT")
    out, stamp = bench._settle_gate(None)
    assert out is None and stamp["outcome"] == "load-unavailable"


def test_settled_verdict_distinguishes_unknown_from_unsettled():
    """host_settled must be None (unknown) when /proc/loadavg was
    unavailable, not False — ADVICE r14: a valid record taken on a
    non-Linux host must not be permanently classed as suspect."""
    assert bench._settled_verdict(None) is None
    assert (
        bench._settled_verdict({"load_1m": 0.0, "load_5m": 0.0, "settled": True})
        is True
    )
    assert (
        bench._settled_verdict({"load_1m": 9.0, "load_5m": 9.0, "settled": False})
        is False
    )


def test_round_flag_rejects_missing_or_bad_value(monkeypatch):
    """--round with no value or a non-integer exits with a usable error
    message instead of a bare IndexError/ValueError (ADVICE r14)."""
    import pytest

    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--round"])
    with pytest.raises(SystemExit, match="--round requires an integer"):
        bench._round_number()
    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--round", "abc"])
    with pytest.raises(SystemExit, match="--round requires an integer"):
        bench._round_number()


def test_canary_p50_ratio_reads_prior_record_and_handles_missing(
    tmp_path, monkeypatch
):
    """The throughput-floor stamp: ratio of this run's canary p50 to the
    drift baseline record's (the one _prev_record selects: newest
    same-sf, earlier-round BENCH_DETAIL). A degraded host reads well
    above 1.0 even when loadavg says settled.

    Hermetic: a synthetic prior-round record in a tmp dir via a
    monkeypatched _rounds_glob, so pruning historical artifacts or
    running pytest from another cwd can't break the test."""
    import json

    class _FakeCanary:
        def __init__(self, p50):
            self._p50 = p50

        def stats(self, reruns):
            return {"p50_sec": self._p50}

    prior = tmp_path / "BENCH_DETAIL_r07.json"
    prior.write_text(json.dumps({"sf": 0.1, "canary": {"p50_sec": 0.07}}))
    current = tmp_path / "BENCH_DETAIL_r08.json"  # own-round: must be skipped
    current.write_text(json.dumps({"sf": 0.1, "canary": {"p50_sec": 0.5}}))

    def fake_glob(pattern):
        if pattern.startswith("BENCH_DETAIL"):
            return [(7, str(prior)), (8, str(current))]
        return []

    monkeypatch.setattr(bench, "_rounds_glob", fake_glob)
    monkeypatch.setattr(bench, "_round_number", lambda: 8)
    # ratio is literally p50 / prior-record p50 (own-round record ignored)
    prev = bench._prev_record(0.1)[1]
    assert bench._canary_p50_ratio(_FakeCanary(0.084), prev) == round(
        0.084 / 0.07, 3
    )
    # no prior record at a never-benched sf -> None, not a crash
    missing = bench._prev_record(123.456)[1]
    assert bench._canary_p50_ratio(_FakeCanary(0.084), missing) is None
    # a canary with no samples (p50 absent/zero) -> None
    assert bench._canary_p50_ratio(_FakeCanary(0.0), prev) is None


def test_query_rows_share_the_one_classifier():
    """Query rows pass plan/index evidence to the same classifier the
    lanes use, and the same watch rule forces rows: a query the prior
    record left regressed-* is re-judged against its pre-regression wall
    even when this run is inside tolerance of the prior one."""
    clean = {"min_sec": 1.5, "max_sec": 1.5, "samples_sec": [1.5, 1.6], "dirty": False}
    c = bench._classify_drift
    assert c(1.0, clean, same_plan=False)["class"] == "plan-change"
    assert c(1.0, clean, same_plan=True)["class"] == "regressed-same-plan"
    assert c(1.0, clean, same_plan=True, same_index=True)["class"] == "environment"
    assert c(1.0, clean, same_plan=True, same_index=False)["class"] == (
        "regressed-same-plan"
    )
    assert c(1.0, clean)["class"] == "regressed"
    assert c(2.0, clean, same_plan=True)["class"] == "improved"
    assert c(1.0, {**clean, "dirty": True}, same_plan=True)["class"] == "noise"
    # a retime that came back within tolerance: noise
    back = {**clean, "min_sec": 1.1, "max_sec": 1.6}
    assert c(1.0, back, same_plan=True)["class"] == "noise"

    prior = {"class": "regressed-same-plan", "prev_round": 16, "prev_sec": 1.0,
             "delta_pct": 50.0}
    watch = bench._watch(prior)
    assert watch == {"class": "regressed-same-plan", "round": 16, "wall_sec": 1.0}
    still = {**clean, "min_sec": 1.45}  # within tolerance of a 1.5 prior
    row = c(1.5, still, same_plan=True, watch=watch)
    assert row["class"] == "regressed-vs-baseline" and row["baseline_wall_sec"] == 1.0
    fixed = {**clean, "min_sec": 1.05}
    assert c(1.2, fixed, same_plan=True, watch=watch)["class"] == "noise-reverted"
    # improved / plan-change / noise-reverted rows arm no watch
    for cls in ("improved", "plan-change", "noise-reverted"):
        assert bench._watch({**prior, "class": cls}) is None


def test_stdout_payload_key_set():
    """Callers parse this line: its keys (and nested canary,
    streaming and drift keys) are a contract. Built without Spark."""
    stamps = {"a": {"dirty": False}, "b": {"dirty": True}}
    streaming = {k: 1.0 for k in bench.STDOUT_STREAMING_KEYS}
    streaming["lane_samples"] = {}
    drift = {
        "a": {"class": "noise-sustained"},
        "b": {"class": "regressed-same-plan"},
    }
    canary = {"effective_calibration_sec": 0.07, "max_sec": 0.2, "reruns": 1}
    p = bench._stdout_payload(
        0.1, {"a": 1.0, "b": 2.0}, stamps, canary, streaming, drift, True,
        "BENCH_DETAIL_r18.json",
    )
    assert set(p) == {
        "metric", "value", "unit", "queries", "sf", "canary", "streaming",
        "drift", "host_settled", "detail",
    }
    assert set(p["canary"]) == {"cal_sec", "max_sec", "reruns", "dirty_queries"}
    assert set(p["streaming"]) == {
        "q5_events_per_sec",
        "q5_full_query_events_per_sec",
        "q5_microbatch_latency_p50_sec",
        "q5_microbatch_latency_p95_sec",
        "q11_full_query_events_per_sec",
        "q8_full_query_events_per_sec",
        "ysb_events_per_sec",
        "q4_full_query_events_per_sec",
    }
    assert p["drift"] == {
        "checked": 2, "noise": 1, "plan_change": 0, "improved": 0,
        "environment": 0, "other": ["b"],
    }
    assert (p["metric"], p["value"], p["unit"]) == ("headline_total_sec", 3.0, "sec")
    assert p["canary"]["dirty_queries"] == 1
    assert json.loads(bench._compact_line(p)) == p
