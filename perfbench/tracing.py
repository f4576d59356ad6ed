"""Span tracing for the traced benchmark run.

Timing wrappers are installed around the engine's public functions at the
name each caller binds (a ``from x import f`` caller holds its own
reference, so the wrapper goes into the caller's module, not only the
defining one). Every wrapped call records a span: name, start, end, parent
span and operation id. Spans stay in memory until the run ends.
``Tracer.restore`` puts every original back; the untraced run never sees a
wrapper.

A span's self time is its duration minus the part of its interval that its
child spans cover (``self_times``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import types
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0
    tasks: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s.id, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, bool, object]] = []

    # ---------------------------------------------------------- recording
    def begin_op(self, op: int | None) -> None:
        self._local.op = op
        self._local.stack = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn, count_jobs: bool = False):
        """A transparent wrapper recording one span per call. With
        ``count_jobs`` the call runs under its own Spark job group, so the
        jobs and tasks it launched are attributed to the span."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = next(tracer._ids)
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            group = prev_group = None
            if count_jobs and tracer.sc is not None:
                prev_group = tracer.sc.getLocalProperty("spark.jobGroup.id")
                group = f"{prev_group or 'nogroup'}/{name}-{sid}"
                tracer.sc.setLocalProperty("spark.jobGroup.id", group)
            stack.append(sid)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                span = Span(sid, name, start, end, parent, getattr(tracer._local, "op", None))
                if group is not None:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                    span.jobs, span.tasks = job_counts(tracer.sc, group)
                tracer.spans.append(span)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    # ----------------------------------------------------------- patching
    def patch(self, owner, attr: str, name: str, count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` (a module or class attribute holding a
        plain function) with a recording wrapper."""
        own = attr in vars(owner)
        original = vars(owner)[attr] if own else getattr(owner, attr)
        if not isinstance(original, types.FunctionType):
            raise TypeError(f"{owner!r}.{attr} is not a plain function")
        setattr(owner, attr, self.wrap(name, original, count_jobs))
        self._patches.append((owner, attr, own, original))

    def restore(self) -> None:
        """Undo every patch, newest first; an attribute that was inherited
        before patching is deleted again rather than shadowed."""
        while self._patches:
            owner, attr, own, original = self._patches.pop()
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    # ------------------------------------------------------------ output
    def summary(self) -> dict[str, dict[str, float]]:
        """name -> {calls, total_s, self_s, jobs, tasks}"""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0}
        )
        for s in self.spans:
            agg = out[s.name]
            agg["calls"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += selfs[s.id]
            agg["jobs"] += s.jobs
            agg["tasks"] += s.tasks
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the public functions of each engine layer, at the name its
    caller binds."""
    from cartodb_importer_spark import importer, naming
    from cartodb_importer_spark.readers import (
        csv, excel, geojson, gpx, kml, router, shp,
    )
    from cartodb_importer_spark.sinks import catalog, files

    targets = [
        (importer.Importer, "run", "importer.run", False),
        (importer.Exporter, "run", "exporter.run", False),
        # Importer.run imports route at call time from the router module
        (router, "route", "readers.route", False),
        (router, "explode_archive", "readers.explode", False),
        (router, "explode_tar", "readers.explode", False),
        (csv, "read_csv", "readers.read_csv", False),
        (excel, "read_excel", "readers.decode.xlsx", False),
        (shp, "read_shp", "readers.decode.shp", False),
        (kml, "read_kml", "readers.decode.kml", False),
        (gpx, "read_gpx", "readers.decode.gpx", False),
        (geojson, "read_geojson", "readers.decode.geojson", False),
        # readers bind the inference functions with from-imports
        (csv, "sniff_encoding", "infer.sniff_encoding", False),
        (csv, "infer_column_types", "infer.types", True),
        (excel, "infer_column_types", "infer.types", True),
        (importer, "georeference_points", "georef.plan", False),
        (importer, "rebuild_the_geom", "georef.plan", False),
        # naming is called through its module object, and sanitize is
        # also reached from sanitize_columns inside the module
        (naming, "get_valid_name", "naming.valid_name", False),
        (naming, "sanitize", "naming.sanitize", False),
        (catalog.LocalCatalog, "publish", "catalog.publish", False),
        (catalog.LocalCatalog, "write", "catalog.write", False),
        (catalog.LocalCatalog, "rename", "catalog.rename", False),
        (catalog.LocalCatalog, "table_names", "catalog.table_names", False),
        (catalog.LocalCatalog, "read", "catalog.read", False),
        (files, "export_csv_zip", "files.export_csv_zip", False),
        (files, "export_kmz", "files.export_kmz", False),
        (files, "export_shp_zip", "files.export_shp_zip", False),
    ]
    for owner, attr, name, count_jobs in targets:
        tracer.patch(owner, attr, name, count_jobs)
