#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is driven to completion with the noop sink (full execution, no
driver-side collect cost). Session startup is excluded from timings.

Contention rule (VERDICT r10 item 6): a recording whose host calibration
anchor reads more than 3x the idle reference (IDLE_CALIBRATION_SEC, the
r10 idle-host measurement) is not comparable across rounds — the timed
pass re-runs once and the cooler pass is recorded, with the rerun count
and both anchors in the artifact. Set SPARK_GRAFT_BENCH_NO_RERUN=1 to
skip the re-run (driver budget safety).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: covers scan+agg, multi-join, window, as-of, set-op, dedup,
# similarity, text analysis, sessionization — the shapes that dominate real
# pipelines.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "agg_count_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "join_asof",
    "setop_except_all",
    "llm_dedup_exact",
    # end-to-end near-dedup (shingle -> minhash -> LSH bucket join ->
    # size-bound -> exact-Jaccard verify -> survivor election) — dedup is
    # the north-star pipeline workload, so the headline carries the full
    # operator. It REPLACES the old llm_minhash_pairs entry: the pairs
    # stage is near_dedup's first half, so listing both double-counted
    # the same work (llm_minhash_pairs stays registered + oracled).
    "llm_near_dedup",
    "llm_cosine_topk",
    "llm_text_stats",
    "stream_session_windows",
    "stream_resample_ffill",
    "q8_market_share",
    "reshape_pivot",
    # Custom group-map op (per-user min-max normalization). The headline
    # runs the applyInArrow physical form — same semantics and oracle as
    # udf_apply_in_pandas, 3.5x faster because it skips the per-group
    # Arrow<->pandas conversion. Both forms stay registered + oracle-checked.
    "udf_apply_in_arrow",
]

# Heavy tail (VERDICT r07 item 6, the "heavy section" form): the sweep's
# slowest family must regress HERE, not only in sweep timings — degree-
# ordered triangle enumeration and the pointer-jump components + keep-best
# election. Kept OUT of the headline total so "value" stays comparable to
# the r01 baseline anchor (14.026s over the same 17 queries); the compact
# line carries them under "heavy" with their own min-of-5 total.
HEAVY_TAIL = [
    "graph_clustering_coefficient",
    "llm_dedup_keep_best",
]

#: multi-file CSV import bench (VERDICT r07 item 5): the reference's actual
#: job is importer.rb:87-476 — read -> sniff/infer -> sanitize -> georef ->
#: staged catalog publish. The corpus is sf0.1 orders split into
#: IMPORT_FILES CSVs with lat/lon columns (so georeferencing engages),
#: generated once and cached under /tmp; import_fleet runs them in
#: parallel and the metric is total published rows / wall sec.
IMPORT_FILES = 16


def _import_corpus() -> list[str]:
    import duckdb

    tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    out = f"/tmp/spark_graft_import_corpus_{tag}"
    paths = [
        os.path.join(out, f"orders_geo_{i:02d}.csv")
        for i in range(IMPORT_FILES)
    ]
    # done-marker guards against a half-generated cache from an interrupted
    # run passing the bare exists() check (ADVICE r08).
    done = os.path.join(out, ".corpus_complete")
    if os.path.exists(done) and all(os.path.exists(p) for p in paths):
        return paths
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for i, p in enumerate(paths):
        con.sql(f"""
          COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority,
                       30 + (o_orderkey % 6000) / 100.0  AS latitude,
                       -120 + (o_custkey % 9000) / 100.0 AS longitude
                FROM read_parquet('{SF_DIR}/orders.parquet')
                WHERE o_orderkey % {IMPORT_FILES} = {i})
          TO '{p}' (FORMAT CSV, HEADER)""")
    with open(done, "w") as f:
        f.write(f"{IMPORT_FILES}\n")
    return paths


def run_import_bench(spark, n_runs: int = 3) -> dict:
    """Min-of-N import fleet timing (VERDICT r09 item 1: the single-run
    number couldn't distinguish a real import regression from a bad host
    window — r09 read 2.6x slower on an unchanged path inside a measured
    35% noise spread). Each run gets a FRESH warehouse dir (publish must
    re-stage + rename every time); the CSV corpus is generated once and
    cached, so sniff/infer/georef/publish — the reference's actual job,
    importer.rb:87-476 — is what's timed. Headline rows_per_sec uses the
    best run; min/median/max wall times and a spread ride alongside."""
    import shutil
    import tempfile

    from cartodb_importer_spark.importer import import_fleet
    from cartodb_importer_spark.sinks.catalog import LocalCatalog

    paths = _import_corpus()
    runs: list[tuple[float, int, list[str]]] = []
    for _ in range(max(1, n_runs)):
        wh = tempfile.mkdtemp(prefix="bench_wh_")
        try:
            start = time.perf_counter()
            items = import_fleet(
                spark, LocalCatalog(wh), paths, max_parallel=8
            )
            wall = time.perf_counter() - start
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        runs.append((
            wall,
            sum(i.result.rows_imported for i in items if i.result),
            [i.error for i in items if i.error],
        ))
    all_walls = [round(r[0], 3) for r in runs]  # run order, for noise reads
    runs.sort(key=lambda r: r[0])
    # rows/errors come from the SAME run as the headline wall time, not
    # accumulated across runs (ADVICE r10: N runs reported one failing
    # file N times while rows came from the last run only)
    best, rows, errors = runs[0]
    walls = sorted(r[0] for r in runs)
    return {
        "files": len(paths),
        "rows": rows,
        "timed_runs": len(walls),
        "agg": "min",
        "wall_sec": round(best, 3),
        "wall_sec_median": round(statistics.median(walls), 3),
        "wall_sec_max": round(walls[-1], 3),
        "noise_spread_pct": round(
            100.0 * (walls[-1] - best) / max(best, 1e-9), 1
        ),
        "rows_per_sec": round(rows / max(best, 1e-9), 1),
        "wall_sec_runs": all_walls,
        "errors": errors,
    }


#: host_calibration() on the r10 idle end-of-round host (PLANS.md Notes);
#: the 3x-this threshold marks a recording as contended. HOST-SPECIFIC by
#: design — the driver re-runs this bench on the same box every round; on
#: different hardware recalibrate the constant (or set
#: SPARK_GRAFT_BENCH_NO_RERUN=1) or every run pays one spurious re-pass.
IDLE_CALIBRATION_SEC = 0.0178


def host_calibration() -> float:
    """Fixed-work CPU anchor, independent of Spark: median of 5 timed
    single-threaded numpy matmuls (deterministic input). Round-over-round
    bench totals have swung ±16-45% with ZERO code change (PLANS.md
    Notes, r06/r10 A/B controls) — this number lets a reader normalize a
    round's totals by the host window it ran in instead of inferring
    noise from spread alone."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        (a @ b).sum()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 4)


def main() -> None:
    from cartodb_importer_spark.queries import QUERIES
    from cartodb_importer_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # one tiny warmup action so JVM startup doesn't land on q1
    spark.range(1000).selectExpr("sum(id)").collect()

    # Steady-state methodology: run each query once untimed (codegen/JIT
    # compile dominates first runs at this data size — measured 2-3.5x),
    # then report the MIN of five timed runs (the least-noise steady-state
    # estimator; single timed runs jitter ±10% on a shared box, and
    # HOST-level noise windows have been observed swinging totals ±35%
    # with no guest-visible load). Per-query median/max across the runs
    # are emitted alongside so a reader can separate a real plan
    # regression (min moved) from machine noise (min stable, max wild).
    # First-run times are recorded separately in "cold_queries".
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    def timed_pass() -> dict:
        calib_pre = host_calibration()
        timings: dict[str, float] = {}
        medians: dict[str, float] = {}
        maxes: dict[str, float] = {}
        cold: dict[str, float] = {}
        heavy: dict[str, float] = {}

        def _time(name: str, into: dict[str, float]) -> None:
            fn = QUERIES[name]
            start = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            cold[name] = round(time.perf_counter() - start, 3)
            runs: list[float] = []
            for _ in range(n_runs):
                start = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - start)
            runs.sort()
            into[name] = round(runs[0], 3)
            medians[name] = round(statistics.median(runs), 3)
            maxes[name] = round(runs[-1], 3)

        for name in HEADLINE:
            _time(name, timings)
        for name in HEAVY_TAIL:
            _time(name, heavy)
        calib_post = host_calibration()
        return {
            "timings": timings,
            "medians": medians,
            "maxes": maxes,
            "cold": cold,
            "heavy": heavy,
            "calib_pre": calib_pre,
            "calib_post": calib_post,
            "hot": max(calib_pre, calib_post),
        }

    # Contention rule (VERDICT r10 item 6): anchor >3x the idle reference
    # means the recording isn't comparable across rounds — re-run the
    # timed pass once and keep the cooler one. r10's driver artifact
    # (anchor 0.1182 vs 0.0178 idle) inflated every headline 1.0-1.4x
    # with zero plan change; this converts that postmortem into an
    # automatic retry.
    passes = [timed_pass()]
    rerun_allowed = os.environ.get("SPARK_GRAFT_BENCH_NO_RERUN") != "1"
    if rerun_allowed and passes[0]["hot"] > 3 * IDLE_CALIBRATION_SEC:
        passes.append(timed_pass())
    chosen = min(passes, key=lambda p: p["hot"])
    timings, medians, maxes, heavy = (
        chosen["timings"], chosen["medians"], chosen["maxes"], chosen["heavy"]
    )
    cold = passes[0]["cold"]  # pass 1's first runs are the only true colds
    calib = chosen["hot"]
    calibration_reruns = len(passes) - 1

    # Measurement fix (r13, documented in OPTIMIZATION_r13.md): the import
    # bench runs AFTER 19 queries x 6 runs whose bodies persist frames the
    # session never released — by this point the block manager holds every
    # query's leaked cache entries, so the import fleet was timed under
    # unrelated storage-memory pressure (the r12 driver artifact read the
    # import at 0.47x of the builder's fresh-session numbers). Release the
    # tracked query caches and clear the CacheManager BEFORE the import
    # window so import_rows_per_sec measures the import path, not the
    # leftovers; no query timing above is affected (they are all done).
    # A calibration anchor now rides the import window too: the pass
    # anchors above bracket the QUERY pass only, so a host-contention
    # window landing on the import was previously invisible.
    from cartodb_importer_spark.caching import release_tracked_caches

    released = release_tracked_caches()
    spark.catalog.clearCache()
    import_calib_pre = host_calibration()
    # end-to-end importer throughput, min-of-3 (each run cold on a fresh
    # warehouse; inference/sniffing cost is part of the job)
    imp = run_import_bench(
        spark, n_runs=int(os.environ.get("SPARK_GRAFT_IMPORT_RUNS", "3"))
    )
    import_calib_post = host_calibration()
    imp["calib_pre"] = import_calib_pre
    imp["calib_post"] = import_calib_post
    imp["released_query_caches"] = released

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # noise spread over the HEADLINE set only, so the number stays
    # comparable to the r01-r07 artifacts (heavy tail reported separately)
    head_max = sum(maxes[n] for n in timings)
    noise_spread_pct = round(
        100.0
        * (head_max - sum(timings.values()))
        / max(sum(timings.values()), 1e-9),
        1,
    )
    # Per-query distribution detail goes to a SIDECAR file, not stdout: the
    # r06 driver failed to parse the bench line ("parsed": null) because the
    # enriched emission outran its tail-capture buffer. The LAST stdout line
    # must stay compact and machine-parseable (the r01-r05 shape).
    # Headline/heavy split is applied to EVERY per-query dict (ADVICE r08):
    # _time writes heavy-tail runs into the shared cold/medians/maxes maps,
    # so without the split cold_total_sec silently grows and queries_median
    # carries more keys than queries_min — reading cross-round as a fake
    # regression. Totals sum over headline names only; heavy gets its own
    # median/max/cold keys.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "timed_runs": n_runs,
        "agg": "min",
        "queries_min": timings,
        "queries_median": {n: medians[n] for n in timings},
        "queries_max": {n: maxes[n] for n in timings},
        "heavy_min": heavy,
        "heavy_median": {n: medians[n] for n in heavy},
        "heavy_max": {n: maxes[n] for n in heavy},
        "heavy_cold": {n: cold[n] for n in heavy},
        "heavy_total_sec": round(sum(heavy.values()), 3),
        "median_total_sec": round(
            sum(medians[n] for n in timings), 3
        ),
        "noise_spread_pct": noise_spread_pct,
        "cold_queries": {n: cold[n] for n in timings},
        "cold_total_sec": round(sum(cold[n] for n in timings), 3),
        "import_bench": imp,
        # the chosen pass's max(pre, post) anchor; >3x IDLE_CALIBRATION_SEC
        # marks the whole artifact as host-contended (VERDICT r10 item 6)
        "host_calibration_sec": calib,
        "host_calibration_pre_sec": chosen["calib_pre"],
        "host_calibration_post_sec": chosen["calib_post"],
        "calibration_reruns": calibration_reruns,
        "calibration_idle_ref_sec": IDLE_CALIBRATION_SEC,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the compact stdout line still carries the headline
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "timed_runs": n_runs,
                "agg": "min",
                "noise_spread_pct": noise_spread_pct,
                "heavy": heavy,
                "heavy_total_sec": round(sum(heavy.values()), 3),
                "import_rows_per_sec": imp["rows_per_sec"],
                "host_calibration_sec": calib,
                "calibration_reruns": calibration_reruns,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
