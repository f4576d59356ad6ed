"""SparkSession factory.

Defaults are chosen for correctness-vs-DuckDB and for scale-out behavior:
AQE on (runtime partition coalescing + skew-join splitting), Arrow on (fast
pandas transfer), UTC session timezone (timestamp hashes must match the
oracle), shuffle partitions sized to the local core count (on a real cluster
this is overridden to ~2-3x total cores; AQE coalesces down after the fact).

A start that launches the JVM maps a class-data-sharing archive of the
classes a session loads (``_ClassArchive``), which halves the cold start.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
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
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = _ClassArchive.prepare()
    if archive is None:
        spark = builder.getOrCreate()
    else:
        # defaultJavaOptions, because a caller's extraJavaOptions replaces
        # rather than merges; a caller's own defaultJavaOptions is kept
        key = "spark.driver.defaultJavaOptions"
        caller = (extra_conf or {}).get(key, requested.get(key, ""))
        builder = builder.config(key, f"{archive.java_options} {caller}".strip())
        with archive.conf_dir():
            spark = builder.getOrCreate()
        archive.launched(spark)
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


class _ClassArchive:
    """A dynamic class-data-sharing archive of the classes a session loads.

    The first start that finds no archive has the driver JVM write one at
    exit (``-XX:ArchiveClassesAtExit``) to a pid-unique temp file; every
    later start maps it (``-XX:SharedArchiveFile``). The archive lives in
    ``$XDG_CACHE_HOME/cartodb_importer_spark`` (default ``~/.cache``), keyed
    by the java binary and the ``$SPARK_HOME/jars`` listing. A JVM that maps
    a truncated archive dies of SIGBUS, so the temp file is published only
    after the JVM exited with 0 and a throwaway JVM mapped it with
    verification on, under a name holding its validated size; a file whose
    size no longer matches its name is not mapped. CDS refuses a non-empty
    directory on the class path, so the JVM is pointed at an empty conf dir;
    a conf dir holding anything but Spark's ``*.template`` files means no
    archive, so that its config still applies.
    """

    # the dump prints ~1,000 [warning][cds] lines on the caller's stdout
    QUIET = "-Xlog:cds*=off"

    def __init__(self, cache: str, key: str, java: str, published: str | None):
        self.cache, self.key, self.java, self.published = cache, key, java, published
        self.temp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
        if published:
            self.java_options = f"-XX:SharedArchiveFile={published} {self.QUIET}"
        else:
            self.java_options = f"-XX:ArchiveClassesAtExit={self.temp} {self.QUIET}"

    @classmethod
    def prepare(cls) -> "_ClassArchive | None":
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        try:
            if any(not n.endswith(".template") for n in os.listdir(conf)):
                return None
        except FileNotFoundError:
            pass  # nothing of the caller's to keep on the class path
        except OSError:
            return None
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
        if java is None:
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "cartodb_importer_spark",
        )
        try:
            java = os.path.realpath(java)
            digest = hashlib.sha256(java.encode())
            jars = os.path.join(spark_home, "jars")
            for name in sorted(os.listdir(jars)):
                st = os.stat(os.path.join(jars, name))
                digest.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
            os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
            if not os.access(cache, os.W_OK) or os.listdir(os.path.join(cache, "conf")):
                return None
            names = os.listdir(cache)
        except OSError:
            return None
        key = digest.hexdigest()[:16]
        published = None
        for name in names:
            stem, _, size = name.removesuffix(".jsa").partition("-")
            path = os.path.join(cache, name)
            if name.endswith(".jsa") and stem == key and size.isdigit():
                with contextlib.suppress(OSError):
                    if os.path.getsize(path) == int(size):
                        published = path
                        break
        return cls(cache, key, java, published)

    @contextlib.contextmanager
    def conf_dir(self):
        """Point the launched JVM at the engine's empty conf dir."""
        before = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = os.path.join(self.cache, "conf")
        try:
            yield
        finally:
            if before is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = before

    def launched(self, spark: SparkSession) -> None:
        """Register the exit hook that stops the JVM this start launched and,
        for a creating start, publishes the archive it wrote."""
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is None:
            return
        class_path = None
        if self.published is None:
            class_path = spark.sparkContext._jvm.System.getProperty("java.class.path")
        atexit.register(self._exit, proc, class_path)

    def _exit(self, proc: subprocess.Popen, class_path: str | None) -> None:
        # the JVM exits on EOF on its stdin; a creating JVM then spends
        # seconds writing the archive, and must not outlive the interpreter
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            code = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        if class_path is not None:
            # an archive that cannot be checked or published is not used
            try:
                if code == 0:
                    self._publish(class_path)
            except (OSError, subprocess.SubprocessError):
                pass
            finally:
                with contextlib.suppress(OSError):
                    os.remove(self.temp)

    def _publish(self, class_path: str) -> None:
        if not os.path.isfile(self.temp):
            return
        check = subprocess.run(
            [self.java, "-Xshare:on", "-XX:+VerifySharedSpaces",
             f"-XX:SharedArchiveFile={self.temp}", "-XX:-CreateCoredumpOnCrash",
             f"-XX:ErrorFile={self.temp}.err", "-cp", class_path, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=self.cache,
            timeout=120,
        )
        with contextlib.suppress(OSError):
            os.remove(f"{self.temp}.err")
        if check.returncode != 0:
            return
        final = os.path.join(self.cache, f"{self.key}-{os.path.getsize(self.temp)}.jsa")
        os.replace(self.temp, final)
        # drop older archives (a JVM that maps one keeps its pages) and the
        # temp files of starts whose process is gone
        for name in os.listdir(self.cache):
            pid = name.split(".")[1] if name.count(".") == 2 else ""
            if (name.endswith(".jsa") and name != os.path.basename(final)) or (
                name.endswith(".tmp") and pid.isdigit() and not _running(int(pid))
            ):
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(self.cache, name))


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True
