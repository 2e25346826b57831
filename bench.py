#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect cost).  Timings are per-query wall clock on a warm
session; `value` is the total.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from waddleml_spark import catalog  # noqa: E402
from waddleml_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_leaderboard",
    "tpch_q1",
    "revenue_by_priority",
    "top3_orders_per_cust",
    "sessionize_users",
    "last_per_group_ties",
    "metric_summary_stats",
    "asof_purchase_click",
    "hypertable_rollup_day",
    "quantiles_by_type",
    "cube_orders",
    "exact_dedup_docs",
    "text_quality_by_lang",
    "cosine_topk_q0",
    "minhash_lsh_candidates",
    "pii_scrub_report",
]


def force(df) -> None:
    """Materialize the full plan without driver-side row transfer."""
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — the shared-host
    noise signal.  This VM's co-tenant can inflate whole stages 10-30x
    (CLAUDE.md measurement rule), so every recorded bench line carries
    the steal fraction of its own timed window and the pass-level
    spread, making the artifact self-adjudicating instead of needing a
    prose noise attribution after the fact (r10 verdict task)."""
    parts = open("/proc/stat").readline().split()
    vals = list(map(int, parts[1:]))
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _calibrate(spark) -> tuple[float, float]:
    """(calib_single_sec, calib_parallel_sec): fixed deterministic CPU
    references timed inside this process — the cross-window normalizer
    (r11 verdict item 1: two consecutive rounds the headline verdict was
    confounded by shared-host speed shifts between arbitrary windows).

    - single: 256 sha256 chains over a 1 MiB buffer (~0.2 s quiet) —
      pure C single-thread throughput, no JVM, no scheduler.
    - parallel: max(xxhash64(id)) over a fixed 500M-row range on the
      session's full parallelism (~0.4 s quiet at 32 cores) — the same
      JVM/codegen/scheduler path the timed queries use, so it also
      scales with the effective core count (machine-checkable evidence
      that $SPARK_GRAFT_CPUS changed the session when comparing the
      c8 artifact against the main one).

    Each probe runs twice, min taken (the first parallel run after a
    conf change can carry codegen); callers run this AFTER the warmup
    passes and again after the timed passes.  A round-over-round riser
    whose calibration rose by the same fraction is the host, not code.
    """
    buf = b"\xa5" * (1 << 20)

    def single() -> float:
        t0 = time.perf_counter()
        h = b""
        for _ in range(256):
            h = hashlib.sha256(buf + h).digest()
        return time.perf_counter() - t0

    def parallel() -> float:
        t0 = time.perf_counter()
        spark.range(500_000_000).selectExpr("max(xxhash64(id))").collect()
        return time.perf_counter() - t0

    return (
        round(min(single(), single()), 3),
        round(min(parallel(), parallel()), 3),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Size configs to the data (guide: default partitioning is wrong at both
    # extremes).  At bench scale (≤600 k rows) shuffles are tiny: 8 shuffle
    # partitions beat 32.  AQE defaults OFF here (round-5 measurement:
    # static plans won on EVERY headline query, 5.66 s -> 4.32 s total —
    # at this scale AQE's per-stage re-planning/coalescing only adds
    # overhead, and the skew its skew-join would fix is already handled
    # explicitly via salting + bucket-grouping).  The shipped session
    # default keeps AQE ON for real scale; SPARK_GRAFT_AQE=1 restores it
    # for the bench.  NOTE this differs from the shipped-session default
    # a user gets (AQE on) when the env is UNSET, so set SPARK_GRAFT_AQE
    # explicitly when comparing bench numbers with any other harness.
    spark = get_spark(
        app_name="waddleml-bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={
            "spark.sql.adaptive.enabled": (
                "true" if os.environ.get("SPARK_GRAFT_AQE") == "1" else "false"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Each pass builds a FRESH DataFrame and forces it with a noop sink:
    # a reused DataFrame object would let Spark re-use its shuffle-map
    # outputs across actions (skipped stages — measured 18x "speedup" on
    # minhash_lsh_candidates, i.e. not measuring the engine at all), so
    # fresh lineage per pass is the honest methodology even though it
    # re-pays ~0.1-0.2 s/query of driver planning at this tiny scale.

    # Warmup: whole-stage codegen + C2 JIT dominate early executions
    # (3-5 s vs 0.5 s steady-state; the 32-aggregate signature kernels
    # need ~3 invocations before C2 finishes).  Three warm passes, then
    # the timed passes below — measures engine throughput, not JVM
    # warmth.
    for _ in range(3):
        for name in HEADLINE:
            force(catalog.QUERIES[name](spark, sf_dir))

    # calibration BEFORE the timed window (post-warmup so the probe
    # itself is not timing codegen) and again after it — see _calibrate
    calib_before = _calibrate(spark)

    # best-of-FIVE timed passes: single-pass totals vary ±20% run to run
    # (GC pauses, interleaved codegen churn, shared-host noise — round 6
    # measured the same commit at 4.1 and 6.1 s total an hour apart);
    # the min per query converges to the engine's steady-state, and two
    # extra passes (~10 s wall) tighten it against host-level noise the
    # 3-pass min still let through
    all_times: dict[str, list[float]] = {n: [] for n in HEADLINE}
    pass_totals: list[float] = []
    s0, c0 = _cpu_ticks()
    for _ in range(5):
        pt = 0.0
        for name in HEADLINE:
            t0 = time.perf_counter()
            force(catalog.QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            all_times[name].append(dt)
            pt += dt
        pass_totals.append(round(pt, 3))
    s1, c1 = _cpu_ticks()
    steal_pct = round(100.0 * (s1 - s0) / max(1, c1 - c0), 2)
    calib_after = _calibrate(spark)

    timings = {n: round(min(ts), 3) for n, ts in all_times.items()}
    medians = {
        n: round(sorted(ts)[len(ts) // 2], 3) for n, ts in all_times.items()
    }
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": f"total_wall_sec_{len(HEADLINE)}_headline_queries",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # noise self-adjudication (r11): steal% measured across
                # the timed window, per-pass totals (spread), per-query
                # medians — a riser whose min and median both track the
                # controls inside a low-steal window is code; anything
                # else is the host
                "steal_pct": steal_pct,
                # host-speed calibration controls (r12): min of the
                # before/after probes, plus both raw pairs — normalize
                # round-over-round deltas by these before blaming code
                "calib_single_sec": min(calib_before[0], calib_after[0]),
                "calib_parallel_sec": min(calib_before[1], calib_after[1]),
                "calib_probes": {
                    "before": list(calib_before),
                    "after": list(calib_after),
                },
                "pass_totals": pass_totals,
                "pass_spread": round(
                    max(pass_totals) / max(1e-9, min(pass_totals)), 3
                ),
                "queries_median": medians,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # self-describing config (round-5 advice): the meaning of
                # an UNSET SPARK_GRAFT_AQE differs between the two benches,
                # so every recorded line carries the effective settings
                "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
                "shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                # effective-session evidence (r11 verdict item 2: the
                # driver misread the ≈1 core-scaling ratios as the env
                # var being ignored — emit what actually ran).  The
                # shuffle-partition default stays 8: re-measured this
                # round interleaved at 32 cores (8 → total 4.459 s vs
                # 32 → 5.495 s, minhash_lsh 0.67 vs 1.48), i.e. the
                # sf0.1 headline set is scheduling-latency-bound and
                # MORE partitions only add task overhead at ANY core
                # count; SPARK_GRAFT_SHUFFLE remains the explicit
                # override, and calib_parallel_sec carries the
                # machine-checkable core-count signal instead.
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
