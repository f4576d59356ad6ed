"""The benchmark workloads, the closed-loop client driver and the output
checks.

Load is a closed loop: each client thread calls the engine's entry point for
its next operation and waits for the result before taking another, all over
one shared ``get_spark()`` session. Imports and exports run on ``nproc``
clients; the query suite runs on one.
"""

from __future__ import annotations

import csv
import glob
import io
import itertools
import math
import os
import re
import shutil
import statistics
import struct
import threading
import time
import zipfile
from dataclasses import dataclass, field

from . import tracing

#: the 17 headline queries of ``bench.py`` (its heavy tail excluded)
HEADLINE = (
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "agg_count_distinct", "agg_rollup", "window_topk_per_group", "join_asof",
    "setop_except_all", "llm_dedup_exact", "llm_near_dedup", "llm_cosine_topk",
    "llm_text_stats", "stream_session_windows", "stream_resample_ffill",
    "q8_market_share", "reshape_pivot", "udf_apply_in_arrow",
)
WARM_UP_SECONDS = 15.0


@dataclass
class Op:
    group: str  # "import", "export" or the query name
    kind: str  # input format / export type / query name
    start: float
    end: float
    ok: bool
    rows: int = 0
    op_id: int = 0
    error: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Window:
    """One measured stretch of the closed loop."""

    start: float
    ops: list[Op]
    seconds: float | None = None
    catalog: object = None

    @property
    def wall(self) -> float:
        return max((o.end for o in self.ops), default=self.start) - self.start

    def throughput(self) -> float:
        """Operations completed per second of the window. An op still
        running at the deadline counts for the share of it done by then,
        so the rate is not rounded to whole operations."""
        end = self.start + (self.seconds or self.wall)
        done = sum(
            min(1.0, max(0.0, (end - o.start) / max(o.seconds, 1e-9)))
            for o in self.ops if o.ok
        )
        return done / max(end - self.start, 1e-9)


class Context:
    def __init__(self, spark, run_dir: str, clients: int):
        self.spark = spark
        self.run_dir = run_dir
        self.clients = clients
        self.tracer: tracing.Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def count(self, op: Op) -> None:
        with self._lock:
            self.attempted += 1
            if not op.ok:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(f"{op.kind}: {op.error}")

    def next_id(self) -> int:
        with self._lock:
            return next(self._ids)


# ------------------------------------------------------------- session


def start_session(conf: dict[str, str]):
    """Build the session cold, as a caller does, launching the JVM; returns
    it with the seconds spent in ``get_spark()`` and in the first action."""
    from cartodb_importer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, (t1 - t0, time.perf_counter() - t1)


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        try:
            parent[int(d)] = int(_stat(d)[1])
        except (OSError, ValueError, IndexError):
            continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo.extend(kids)
    return out


def stop_session(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    forked to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {w for w in workers if _alive(w)}
        time.sleep(0.05)


def _hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident sets of this process and of the JVM it drives."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return _hwm_mb("self"), (_hwm_mb(proc.pid) if proc is not None else 0.0)


# ------------------------------------------------------------ operations


def _published(warehouse: str, table: str) -> tuple[dict[str, str], int, int]:
    """Column types, row count and non-null ``the_geom`` count of a
    published table, read from its parquet files."""
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(warehouse, table, "*.parquet")))
    types = {f.name: str(f.type) for f in pq.read_schema(parts[0])} if parts else {}
    rows = geoms = 0
    for part in parts:
        pf = pq.ParquetFile(part)
        rows += pf.metadata.num_rows
        if "the_geom" in types:
            col = pf.read(columns=["the_geom"]).column(0)
            geoms += len(col) - col.null_count
    return types, rows, geoms


def import_op(ctx: Context, catalog, item: dict, op_id: int) -> Op:
    from cartodb_importer_spark.importer import Importer

    def run():
        return Importer(ctx.spark, catalog, item["path"]).run()

    if ctx.tracer is not None:
        run = ctx.tracer.wrap("op.import", run)
    t0 = time.perf_counter()
    try:
        res = run()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        return Op("import", item["kind"], t0, time.perf_counter(), False, op_id=op_id,
                  error=f"{type(e).__name__}: {e}")
    t1 = time.perf_counter()
    types, rows, geoms = _published(catalog.warehouse, res.name)
    op = Op("import", item["kind"], t0, t1, True, rows, op_id,
            extra={"name": res.name, "log": res.log, "null_geoms": rows - geoms})
    problems = []
    if res.rows_imported != item["rows"]:
        problems.append(f"reported rows {res.rows_imported} != {item['rows']}")
    if rows != item["rows"]:
        problems.append(f"published rows {rows} != {item['rows']}")
    # a publish-collision retry suffixes the already-suffixed name
    if not re.fullmatch(rf"{item['stem']}(_\d+)*", res.name):
        problems.append(f"table name {res.name!r} is not {item['stem']}[_n]")
    if geoms != item["geoms"]:
        problems.append(f"non-null the_geom {geoms} != {item['geoms']}")
    if types != item["types"]:
        problems.append(f"types {types} != {item['types']}")
    if problems:
        op.ok = False
        op.error = f"{item['path']}: " + "; ".join(problems)
    return op


def _check_export(path: str, table: str, typ: str, rows: int) -> tuple[list[str], int]:
    problems = []
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        if typ == "csv":
            want = {f"{table}.csv"}
            got = len(list(csv.reader(io.TextIOWrapper(zf.open(f"{table}.csv"), "utf-8")))) - 1
        elif typ == "kml":
            want = {"doc.kml"}
            got = zf.read("doc.kml").count(b"<Placemark>")
        else:
            want = {f"{table}{ext}" for ext in (".shp", ".shx", ".dbf", ".prj")}
            got = struct.unpack("<I", zf.read(f"{table}.dbf")[4:8])[0]
    if names != want:
        problems.append(f"entries {sorted(names)} != {sorted(want)}")
    if got != rows:
        problems.append(f"rows {got} != {rows}")
    return problems, os.path.getsize(path)


def export_op(ctx: Context, catalog, item: dict, table: str, op_id: int) -> Op:
    from cartodb_importer_spark.importer import Exporter

    out_dir = os.path.join(ctx.run_dir, "exports", str(op_id))

    def run():
        return Exporter(ctx.spark, catalog, table, item["type"], out_dir).run()

    if ctx.tracer is not None:
        run = ctx.tracer.wrap("op.export", run)
    t0 = time.perf_counter()
    try:
        res = run()
        t1 = time.perf_counter()
        problems, size = _check_export(res.path, table, item["type"], item["rows"])
    except Exception as e:  # noqa: BLE001
        return Op("export", item["kind"], t0, time.perf_counter(), False, op_id=op_id,
                  error=f"{type(e).__name__}: {e}")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return Op("export", item["kind"], t0, t1, not problems, item["rows"], op_id,
              "; ".join(problems), extra={"bytes": size})


def query_op(ctx: Context, name: str, sf_dir: str, op_id: int) -> Op:
    from cartodb_importer_spark.queries import QUERIES

    def run():
        QUERIES[name](ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()

    if ctx.tracer is not None:
        run = ctx.tracer.wrap("op.query", run)
    t0 = time.perf_counter()
    try:
        run()
    except Exception as e:  # noqa: BLE001
        return Op(name, name, t0, time.perf_counter(), False, op_id=op_id,
                  error=f"{type(e).__name__}: {e}")
    return Op(name, name, t0, time.perf_counter(), True, op_id=op_id)


# ------------------------------------------------------------ the loop


def closed_loop(ctx: Context, lanes, do_op, seconds: float | None) -> Window:
    """``lanes`` is a list of (items, clients, min_items). Each lane runs
    ``clients`` threads that take its next item and wait for the result,
    until ``seconds`` have passed and the lane has handed out at least
    ``min_items`` (an op already started finishes), or, with
    ``seconds=None``, until the lane's items are exhausted."""
    lock = threading.Lock()
    ops: list[Op] = []
    start = time.perf_counter()
    deadline = None if seconds is None else start + seconds
    sc = ctx.spark.sparkContext

    def client(it, taken, min_items):
        while True:
            with lock:
                if (deadline is not None and time.perf_counter() >= deadline
                        and taken[0] >= min_items):
                    return
                item = next(it, None)
                taken[0] += 1
            if item is None:
                return
            op_id = ctx.next_id()
            if ctx.tracer is not None:
                ctx.tracer.begin_op(op_id)
                sc.setLocalProperty("spark.jobGroup.id", f"op-{op_id}")
            op = do_op(item, op_id)
            if ctx.tracer is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                op.extra["jobs"], op.extra["tasks"] = tracing.job_counts(sc, f"op-{op_id}")
            with lock:
                ops.append(op)

    threads = []
    for lane, (items, clients, min_items) in enumerate(lanes):
        args = (iter(items), [0], min_items)
        threads += [threading.Thread(target=client, args=args, name=f"client-{lane}.{i}")
                    for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # every import must land in a table of its own
    seen: set[str] = set()
    for op in ops:
        name = op.extra.get("name")
        if op.ok and name is not None:
            if name in seen:
                op.ok, op.error = False, f"table {name!r} published twice"
            seen.add(name)
        ctx.count(op)
    return Window(start, ops, seconds)


# ------------------------------------------------------------ workloads


def _fresh_catalog(ctx: Context, tag: str):
    from cartodb_importer_spark.sinks.catalog import LocalCatalog

    return LocalCatalog(os.path.join(ctx.run_dir, f"warehouse-{tag}"))


def covering_prefix(items, kind) -> int:
    """How many items from the head of ``items`` hold every kind in it.
    A window runs at least that many, so ``p50_sum_s`` sums the same kinds
    on a slow run as on a fast one instead of dropping the kinds a slow
    run did not reach."""
    first: dict[str, int] = {}
    for i, item in enumerate(items):
        first.setdefault(kind(item), i)
    return max(first.values(), default=-1) + 1


class MixedBacklog:
    """Small files of eleven formats with exports interleaved, on all
    clients but one; that one imports the large CSVs back to back."""

    def __init__(self, ctx: Context, manifest: dict):
        self.ctx, self.m = ctx, manifest

    def _lanes(self, small: list[dict]):
        """A large CSV is always in flight, so every window sees the same
        contention; interleaving the large CSVs with the small files made
        how many ran in a window, and so every figure, swing by 20%."""
        return [(itertools.cycle(small), max(1, self.ctx.clients - 1),
                 covering_prefix(small, lambda item: item["kind"])),
                (itertools.cycle(self.m["bulk"]), 1, 1)]

    def _seeded_catalog(self, tag: str):
        """A fresh catalog holding the tables the exports read."""
        cat = _fresh_catalog(self.ctx, tag)
        srcs = self.m["export_sources"]
        win = closed_loop(self.ctx, [(srcs, len(srcs), 0)],
                          lambda item, i: import_op(self.ctx, cat, item, i), None)
        published = {o.extra.get("name") for o in win.ops if o.ok}
        return cat, [s["stem"] if s["stem"] in published else None for s in srcs]

    def _do(self, cat, names):
        def do(item, op_id):
            if item["op"] == "import":
                return import_op(self.ctx, cat, item, op_id)
            return export_op(self.ctx, cat, item, names[item["source"]], op_id)
        return do

    def warm_up(self) -> None:
        """Cycle every reader path and export type until the JIT has
        settled; a single pass left the measured window ~1.6x slower per
        operation and twice as noisy."""
        cat, names = self._seeded_catalog("warmup")
        closed_loop(self.ctx, self._lanes(self.m["warmup"]), self._do(cat, names),
                    WARM_UP_SECONDS)

    def window(self, seconds: float, tag: str) -> Window:
        cat, names = self._seeded_catalog(tag)
        win = closed_loop(self.ctx, self._lanes(self.m["ops"]), self._do(cat, names), seconds)
        win.catalog = cat
        return win


class AnalyticQueries:
    """The headline query suite, one client, noop sink."""

    def __init__(self, ctx: Context, manifest: dict):
        self.ctx, self.m = ctx, manifest

    def warm_up(self) -> None:
        """One pass, spread over the clients, that also checks every result
        against its DuckDB oracle (a mismatch counts as a failed
        operation), then the measured window's loop for
        ``WARM_UP_SECONDS``: after the checking pass and one more, the
        window's first pass still ran up to 20% slower than its second."""
        from cartodb_importer_spark.queries import ORACLES, QUERIES, TABLES
        import duckdb

        sf = self.m["sf_dir"]
        con = duckdb.connect(config={
            "threads": 2,
            "autoinstall_known_extensions": "false",
            "autoload_known_extensions": "false",
        })
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

        def check(name, op_id):
            t0 = time.perf_counter()
            try:
                got = QUERIES[name](self.ctx.spark, sf).toPandas()
                problem = compare_frames(got, con.cursor().sql(ORACLES[name]).df())
            except Exception as e:  # noqa: BLE001
                problem = f"{type(e).__name__}: {e}"
            return Op("oracle", name, t0, time.perf_counter(), not problem, op_id=op_id,
                      error=problem)

        closed_loop(self.ctx, [(HEADLINE, self.ctx.clients, 0)], check, None)
        con.close()
        self.window(WARM_UP_SECONDS, "warmup")

    def window(self, seconds: float, tag: str) -> Window:
        sf = self.m["sf_dir"]
        return closed_loop(self.ctx, [(itertools.cycle(HEADLINE), 1, len(HEADLINE))],
                           lambda name, i: query_op(self.ctx, name, sf, i), seconds)


WORKLOADS = {
    "mixed_backlog": MixedBacklog,
    "analytic_queries": AnalyticQueries,
}


def compare_frames(got, want) -> str:
    """'' when two result frames hold the same rows (order-insensitive,
    floats to a relative 1e-6), else a one-line reason."""
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype.kind == "M":
                df[c] = df[c].astype("datetime64[us]")
            elif df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(canon(got), canon(want), check_dtype=False,
                                      check_exact=False, rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        return "values differ: " + str(e).strip().splitlines()[-1]
    return ""


# ------------------------------------------------------------- metrics


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _medians(ops: list[Op]) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def end_to_end(win: Window, setup, rss_mb: float) -> dict[str, float]:
    """``p50_sum_s`` adds up the median time of each kind of operation:
    one import of each input format and one export of each type, or one
    pass of the headline queries, each at typical speed. Summing per kind
    keeps the figure independent of how many of each kind a window
    finished; one median over all imports jumped between the fast and
    the slow formats."""
    ok = [o for o in win.ops if o.ok]
    return {
        "setup_s": sum(setup),
        "p50_sum_s": sum(_medians(ok).values()),
        "ops_per_s": win.throughput(),
        "peak_rss_mb": rss_mb,
    }


def op_summary(win: Window) -> dict[str, float]:
    """The per-operation figures behind the end-to-end metrics, by
    operation type: medians, the p90 where at least 10 samples lie beyond
    it, and sample counts."""
    out: dict[str, float] = {}
    groups = {
        "import": [o for o in win.ops if o.ok and o.group == "import"],
        "export": [o for o in win.ops if o.ok and o.group == "export"],
        "query": [o for o in win.ops if o.ok and o.group in HEADLINE],
    }
    for g, ops in groups.items():
        if not ops:
            continue
        secs = [o.seconds for o in ops]
        out[f"{g}_n"] = len(ops)
        out[f"{g}_p50_s"] = statistics.median(secs)
        if len(secs) - math.ceil(0.9 * len(secs)) >= 10:
            out[f"{g}_p90_s"] = _p(secs, 0.9)
    imports = groups["import"]
    if imports:
        out["import_rows_per_s"] = sum(o.rows for o in imports) / max(win.wall, 1e-9)
    if groups["query"]:
        out["query_suite_s"] = sum(_medians(groups["query"]).values())
    out["failed_ops_ratio"] = sum(not o.ok for o in win.ops) / max(len(win.ops), 1)
    return out


def per_layer(win: Window, tracer: tracing.Tracer, setup, untraced: Window) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced window: (value, unit) by name."""
    s = tracer.summary()

    def mean(name, key="total_s"):
        a = s.get(name)
        return a[key] / a["calls"] if a and a["calls"] else 0.0

    imports = [o for o in win.ops if o.ok and o.group == "import"]
    exports = [o for o in win.ops if o.ok and o.group == "export"]
    queries = [o for o in win.ops if o.ok and o.group in HEADLINE]
    n_imp = max(len(imports), 1)
    span_jobs: dict[int, tuple[int, int]] = {}
    for sp in tracer.spans:
        if sp.op is not None and sp.jobs:
            j, t = span_jobs.get(sp.op, (0, 0))
            span_jobs[sp.op] = (j + sp.jobs, t + sp.tasks)

    def jobs(o):
        j, t = span_jobs.get(o.op_id, (0, 0))
        return o.extra.get("jobs", 0) + j, o.extra.get("tasks", 0) + t

    rows_in = sum(o.rows for o in imports)
    nulls = sum(o.extra.get("null_geoms", 0) for o in imports)
    pub_bytes = 0
    cat = getattr(win, "catalog", None)
    if cat is not None:
        for o in imports:
            for f in glob.glob(os.path.join(cat.warehouse, o.extra["name"], "*")):
                pub_bytes += os.path.getsize(f)
    per_query: dict[str, list[Op]] = {}
    for o in queries:
        per_query.setdefault(o.kind, []).append(o)

    m = {
        "session.get_spark_s": (setup[0], "s"),
        "session.first_action_s": (setup[1], "s"),
        "importer.run_s": (mean("importer.run"), "s"),
        "importer.jobs_per_file": (sum(jobs(o)[0] for o in imports) / n_imp, "count"),
        "importer.tasks_per_file": (sum(jobs(o)[1] for o in imports) / n_imp, "count"),
        "importer.publish_retries": (
            sum(sum("publish collision" in line for line in o.extra["log"]) for o in imports),
            "count"),
        "readers.route_self_s": (mean("readers.route", "self_s"), "s"),
        "readers.explode_s": (mean("readers.explode"), "s"),
        "readers.read_csv_self_s": (mean("readers.read_csv", "self_s"), "s"),
    }
    for fmt in ("xlsx", "shp", "kml", "gpx", "geojson"):
        m[f"readers.decode_s.{fmt}"] = (mean(f"readers.decode.{fmt}", "self_s"), "s")
    m.update({
        "infer.sniff_encoding_s": (mean("infer.sniff_encoding"), "s"),
        "infer.types_s": (mean("infer.types"), "s"),
        "infer.jobs": (mean("infer.types", "jobs"), "count"),
        "georef.plan_s": (mean("georef.plan"), "s"),
        "georef.null_geom_ratio": (nulls / rows_in if rows_in else 0.0, "ratio"),
        "naming.valid_name_s": (mean("naming.valid_name"), "s"),
        "naming.sanitize_s": (mean("naming.sanitize"), "s"),
        "catalog.publish_s": (mean("catalog.publish"), "s"),
        "catalog.write_s": (mean("catalog.write"), "s"),
        "catalog.rename_s": (mean("catalog.rename"), "s"),
        "catalog.table_names_s": (mean("catalog.table_names"), "s"),
        "catalog.table_names_calls": (
            s.get("catalog.table_names", {}).get("calls", 0) / n_imp if imports else 0.0, "count"),
        "catalog.read_s": (mean("catalog.read"), "s"),
        "catalog.bytes_per_row": (pub_bytes / rows_in if rows_in else 0.0, "B/row"),
        "files.export_csv_zip_s": (mean("files.export_csv_zip"), "s"),
        "files.export_kmz_s": (mean("files.export_kmz"), "s"),
        "files.export_shp_zip_s": (mean("files.export_shp_zip"), "s"),
        "files.bytes_out_per_row": (
            sum(o.extra["bytes"] for o in exports) / max(sum(o.rows for o in exports), 1)
            if exports else 0.0, "B/row"),
    })
    for name in HEADLINE:
        ops = per_query.get(name, [])
        m[f"queries.{name}_s"] = (statistics.median(o.seconds for o in ops) if ops else 0.0, "s")
    m["queries.jobs"] = (sum(statistics.mean(jobs(o)[0] for o in v) for v in per_query.values()), "count")
    m["queries.tasks"] = (sum(statistics.mean(jobs(o)[1] for o in v) for v in per_query.values()), "count")
    base = end_to_end(untraced, setup, 0.0)["p50_sum_s"]
    traced = end_to_end(win, setup, 0.0)["p50_sum_s"]
    m["trace.overhead_pct"] = (100.0 * (traced / base - 1.0) if base else 0.0, "%")
    return m
