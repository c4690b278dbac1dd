"""Seeded randomized differential lane vs DuckDB (VERDICT r11 #2).

The driver's fixtures are fixed, so every oracle row is evidence on the
same bytes — a query can be right-on-the-fixture and wrong-in-general.
This lane regenerates the ten tables randomly (tools/randgen: skewed
keys, NULLs, empty groups, unicode, planted dups) and replays every
oracle-backed registry entry against its own DuckDB oracle on the new
bytes. Same query code, same oracle SQL, adversarial data.

First run (r12, seed 11) caught SIX real bugs the fixed fixtures could
never show, all fixed:

- asof_join_events: per-column ``last(ignorenulls)`` rewrote "latest
  quote's value is NULL" into an older non-null value (row-struct fix);
- dedup_spans: DIVIDE_BY_ZERO on zero-token documents;
- chunk_documents: Spark ``sequence(1, 0)`` raises where DuckDB's
  ``generate_series`` is empty — empty docs crashed the whole query;
- multimodal_decode/framesample: NULL payloads crashed the Pandas stub;
  byte-window frames cut UTF-8 code points in half;
- quality_calibration / win_analytics: Spark ASC = NULLS FIRST vs
  DuckDB = NULLS LAST silently shifted every rank/percentile in any
  partition containing one NULL;
- doc_fingerprint: DuckDB ``array_to_string([])`` is NULL, Spark
  ``array_join([])`` is ''.

Exclusions below are ADJUDICATED engine/contract differences, not
skipped work — each names its mechanism and evidence.
"""

from __future__ import annotations

import time

#: Entries whose spark-vs-oracle comparison is only meaningful on the
#: FIXED fixtures — each exclusion is an adjudicated mechanism, not a
#: flake quarantine.
EXCLUSIONS: dict[str, str] = {
    # dedup_edit_distance re-entered the lane in r13: the oracle now
    # recodes DuckDB's byte-based levenshtein to code points
    # (dialect.levenshtein_codepoints), closing the r12 exclusion.
    "approx_sketch_stats_contract": (
        "The contract asserts HLL++/t-digest error bounds that are "
        "PROBABILISTIC (rsd=5% is a standard deviation, not a bound); "
        "a random fixture resamples the sketch's luck — seed 11 put "
        "Spark's HLL 5.8% off on a 121-distinct group. The contract "
        "binds the fixture working point by design."
    ),
    "sketch_merge_distinct_contract": "same probabilistic-bound class as approx_sketch_stats_contract.",
    "approx_topk_tokens_contract": "same probabilistic-bound class as approx_sketch_stats_contract.",
    "dq_profile_approx_contract": "same probabilistic-bound class as approx_sketch_stats_contract.",
}


def _sweep(spark, fixture_dir: str) -> dict[str, dict]:
    """Replay every non-excluded oracle-backed entry against its DuckDB
    oracle on the fixture at ``fixture_dir``; returns name -> result
    row. A crash is recorded as a finding, never an abort."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from squirtle_spark.oracle import check_query
    from squirtle_spark.registry import load_all

    out: dict[str, dict] = {}
    for name, q in sorted(load_all().items()):
        if q.oracle is None or name in EXCLUSIONS:
            continue
        t = time.time()
        try:
            res = check_query(spark, name, fixture_dir)
            out[name] = {
                "status": "ok" if res.ok else "mismatch",
                "spark_rows": res.rows_spark,
                "oracle_rows": res.rows_oracle,
                "msg": None if res.ok else res.message()[:400],
                "sec": round(time.time() - t, 2),
            }
        except Exception as e:
            out[name] = {
                "status": "error",
                "msg": f"{type(e).__name__}: {str(e)[:300]}",
                "sec": round(time.time() - t, 2),
            }
    return out


def run_seed(spark, seed: int, base_dir: str) -> dict[str, dict]:
    """Generate the seed's fixture under base_dir and sweep it."""
    import os

    from .randgen import generate

    return _sweep(spark, generate(os.path.join(base_dir, f"s{seed}"), seed))


def run_degenerate(spark, base_dir: str) -> dict[str, dict]:
    """Sweep the DEGENERATE fixture (tools/randgen.generate_degenerate:
    empty fact tables, singleton groups, a zero embedding, NULL/empty
    text). First r12 sweep found 12 failures — 9 crashes (single-row-group
    sample variance, zero-norm cosine, empty IVF centroid sample,
    zero-char language shares) and 3 engine divergences (Spark PIVOT NULL
    cells vs FILTER 0, NULL-band mode ties, sparse-vs-dense melt) — all
    fixed; this lane keeps them fixed."""
    import os

    from .randgen import generate_degenerate

    return _sweep(spark, generate_degenerate(os.path.join(base_dir, "degen")))
