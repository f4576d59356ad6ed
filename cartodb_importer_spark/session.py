"""SparkSession factory.

Defaults are chosen for correctness-vs-DuckDB and for scale-out behavior:
AQE on (runtime partition coalescing + skew-join splitting), Arrow on (fast
pandas transfer), UTC session timezone (timestamp hashes must match the
oracle), shuffle partitions sized to the local core count (on a real cluster
this is overridden to ~2-3x total cores; AQE coalesces down after the fact).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cartodb-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a cluster, pass ``master=None`` and let spark-submit supply it; the
    local default mirrors the test environment (local[$SPARK_GRAFT_CPUS]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- adaptive execution: re-plan at runtime from real stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition stages under persisted subtrees: with the
        # default (false), a persist() pins its subtree AND every stage
        # that reuses its partitioning at spark.sql.shuffle.partitions
        # tasks, so iterative queries over a small cached relation
        # (PageRank, k-means, label propagation: 2 shuffles/superstep) pay
        # full-width task scheduling per step — 3-5x wall on tiny graphs.
        # (parallelismFirst stays at its default: size-first coalescing
        # was A/B-tested and under-parallelizes the sf0.1 shuffle-heavy
        # queries, e.g. llm_minhash_pairs 1.2s -> 2.5s.)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # --- FAIR job scheduling: maintenance must not starve serving ---
        # With the FIFO default, a background job's multi-task stages (an
        # out-of-band landing-zone fold, a compaction) queue AHEAD of a
        # live stream's tiny trigger jobs and inflate every batch duration
        # (r12 rehearsal: +48% stream wall). FAIR round-robins task slots
        # between pools, so concurrent actors share the executors instead
        # of convoying; single-job workloads (the bench, the correctness
        # sweep) are unaffected — one pool, one job, FIFO-equivalent.
        # run_maintenance pins its jobs to a "maintenance" pool via a
        # thread-local property; the shipped allocation file weights
        # serving (default pool) 8:1 over maintenance so folds fill idle
        # slots instead of competing head-on (r12: 8:1 takes the oob
        # rehearsal's trigger overhead from +11% to ~2%).
        .config("spark.scheduler.mode", "FAIR")
        # --- Arrow for pandas <-> JVM transfer (toPandas, pandas input to
        # createDataFrame, pandas UDFs). It does not apply to a list of
        # rows, which createDataFrame pickles row by row; driver-side
        # readers hand over a pyarrow.Table instead (readers/frame.py). ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamp semantics vs the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (e.g. DuckDB-written events.ts) reads as
        # long nanos; Tables() converts to timestamp losslessly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- partitioning defaults; AQE coalesces post-shuffle ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # small-dim joins should broadcast without hints up to 64 MB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # saveAsTable target (bucketed tables); keep out of the repo dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-graft-warehouse"),
            ),
        )
    )
    # weighted FAIR pools (8:1 serving:maintenance) — set only when the
    # shipped file is actually on disk (a missing allocation file would
    # fail scheduler init; without it FAIR still round-robins unweighted
    # pools, which is the 90% of the win)
    pools = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fair_pools.xml")
    if os.path.isfile(pools):
        builder = builder.config("spark.scheduler.allocation.file", pools)
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — ops passthrough for knobs that
    # are deployment-specific rather than engine semantics (e.g.
    # spark.io.compression.codec=zstd halves shuffle-spill bytes on the
    # single-disk rehearsal box; a cluster sets it in spark-defaults).
    requested: dict[str, str] = {}
    for item in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            requested[k.strip()] = v.strip()
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # builder.config is a no-op when a SparkSession already exists in the
    # process, so explicitly-requested env knobs (e.g. the zstd spill codec
    # a SCALE rehearsal depends on) can be silently dropped — surface that
    # instead of letting the rehearsal measure the wrong config (ADVICE r08).
    for k, v in requested.items():
        try:
            actual = spark.conf.get(k, None)
        except Exception:  # noqa: BLE001 — static confs raise on get
            continue
        if actual is not None and actual != v:
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_EXTRA_CONF requested {k}={v} but the existing "
                f"SparkSession has {k}={actual}; restart the process (or "
                f"stop the session) for the knob to take effect",
                stacklevel=2,
            )
    return spark
