"""The two public entry points, mirroring the reference API surface:

* ``Importer`` — CartoDB::Importer#import! (importer.rb:87-476): stage ->
  route -> normalize -> georeference -> publish (staging+rename) -> count,
  returning ``ImportResult(name, rows_imported, import_type, log)``.
* ``Exporter`` — CartoDB::Exporter#export! (exporter.rb:43-173): read table
  -> csv/kml/shp file -> zip, returning ``ExportResult(name, import_type,
  path)``.

Lifecycle parity notes (SURVEY §3): the eager DB connection becomes a lazy
catalog; the subprocess boundaries (wget/ogr2ogr/shp2pgsql/psql) are gone —
readers produce DataFrames directly; rollback drops only not-yet-published
staging tables so a failed import never clobbers an existing table
(spec/import_spec.rb:23-52).
"""

from __future__ import annotations

import errno
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import naming
from .georef import georeference_points, rebuild_the_geom
from .infer import apply_inferred_types, lattice_max, types_of
from .sinks.catalog import Catalog


@dataclass
class ImportResult:
    """importer.rb:341-346 OpenStruct equivalent."""

    name: str
    rows_imported: int
    import_type: str
    log: list[str] = field(default_factory=list)


@dataclass
class ExportResult:
    """exporter.rb:67-71 OpenStruct equivalent."""

    name: str
    import_type: str
    path: str


class Importer:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        import_from_file: str,
        suggested_name: str | None = None,
        debug: bool = False,
    ):
        self.spark = spark
        self.catalog = catalog
        self.source = import_from_file
        self.debug = debug
        self.runlog: list[str] = []
        # a user-supplied name is forced: archive explosion must not
        # retarget it (importer.rb:52-57 + the `unless @force_name`
        # guard at importer.rb:106)
        self.force_name = bool(suggested_name)
        base = os.path.splitext(os.path.basename(import_from_file))[0]
        self.suggested_name = naming.get_valid_name(
            naming.sanitize(suggested_name or base), self.catalog.table_names()
        )  # importer.rb:52-57

    def log(self, msg: str) -> None:
        self.runlog.append(msg)
        if self.debug:
            print(msg)

    def run(self) -> ImportResult:
        from .readers.router import route

        # the import owns its scratch dir (downloads, extracted archives)
        # from before routing until every path out of run()
        workdir = tempfile.mkdtemp(prefix="cartodb_import_")
        try:
            df, meta = route(self.spark, self.source, workdir)
            # archive explosion may retarget the name (importer.rb:106),
            # unless the user forced one
            if meta.get("suggested_name") and not self.force_name:
                self.suggested_name = naming.get_valid_name(
                    naming.sanitize(meta["suggested_name"]),
                    self.catalog.table_names(),
                )
            # O9 empty guard (importer.rb:238-242) — enforced inside the
            # staging write (reject_empty below), where the emptiness check
            # rides the write's Observation instead of paying a dedicated
            # isEmpty() job per file; an empty input still raises
            # ValueError("Empty table") with nothing published. Every
            # reader returns O10-sanitized column names; a CSV arrives
            # string-typed with the lattice of its head.
            types = meta.get("head_types")
            # O11 GeoJSON the_geom rebuild — only when the column holds
            # GeoJSON text. A driver-side reader reports that from the
            # column it holds; for a distributed reader one non-null cell
            # is probed (one Spark job). The probe runs before the type
            # check is attached: an Observation keeps the metrics of the
            # first action over its frame, and a first() sees one row.
            geojson = False
            if "the_geom" in df.columns:
                geojson = meta.get("the_geom_geojson")
                if geojson is None:
                    probe = (
                        df.select("the_geom")
                        .filter("the_geom IS NOT NULL")
                        .first()
                    )
                    geojson = bool(probe) and str(probe[0]).lstrip().startswith("{")
                if geojson:
                    self.log("rebuilt the_geom from GeoJSON")
            frame, type_obs, geo_obs = self._frame(df, types, geojson)
            if "the_geom" in frame.columns and "the_geom" not in df.columns:
                self.log("georeferenced POINT from lat/lon columns")
            # O15/O17 staged publish + O19 count: one write lands the rows,
            # and its Observations count them, count null geometries and
            # check the guessed column types (no extra job — the
            # Spark-native form of the reference's runlog row accounting)
            staging = None
            try:
                staging, rows = self.catalog.stage(
                    frame, self.suggested_name, reject_empty=True
                )
                if type_obs is not None:
                    written = {c: t or "varchar" for c, t in types.items()}
                    exact = {**written, **types_of(type_obs.get)}
                    if exact != written:
                        # a cell past the head moved a column up the
                        # lattice: stage again with the exact types
                        self.catalog.drop(staging)
                        staging = None
                        moved = {c: t for c, t in exact.items() if t != written[c]}
                        self.log(f"head-sample types corrected: {moved}")
                        frame, _, geo_obs = self._frame(df, exact, geojson)
                        staging, rows = self.catalog.stage(
                            frame, self.suggested_name, reject_empty=True
                        )
                self._commit(staging)
            except BaseException:
                if staging is not None:
                    self.catalog.drop(staging)
                raise
            self.log(f"published {self.suggested_name} ({rows} rows)")
            if geo_obs is not None:
                metrics = geo_obs.get
                self.log(
                    f"georef metrics: {metrics['n_null_geom']} of "
                    f"{metrics['n_rows']} rows have null geometry"
                )
            return ImportResult(
                name=self.suggested_name,
                rows_imported=rows,
                import_type=meta.get("import_type", ""),
                log=self.runlog,
            )
        finally:
            # O20 ensure: unlink temp files (importer.rb:469-475)
            shutil.rmtree(workdir, ignore_errors=True)

    @staticmethod
    def _frame(df, types: dict | None, geojson: bool):
        """The frame the import writes, with the Observations its write
        fills: (frame, type check or None, georef metrics or None).

        ``types`` (a CSV's) casts the string columns, and the type check
        observes the lattice of every column typed below varchar (None:
        no non-blank cell seen yet). The other readers hand over typed
        frames (``types`` None)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        type_obs = None
        if types is not None:
            checked = [c for c, t in types.items() if t != "varchar"]
            if checked:
                type_obs = Observation()
                df = df.observe(type_obs, *[lattice_max(c) for c in checked])
            df = apply_inferred_types(df, types)
        if geojson:
            df = rebuild_the_geom(df)
        # O12/O13 lat-lon georeferencing
        df = georeference_points(df)
        geo_obs = None
        if "the_geom" in df.columns:
            geo_obs = Observation()
            df = df.observe(
                geo_obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("the_geom").isNull().cast("int")).alias("n_null_geom"),
            )
        return df, type_obs, geo_obs

    def _commit(self, staging: str) -> None:
        """Rename the staged table in, retrying a name collision: the name
        was unique when this import derived it, but a concurrent import
        can win it in the meantime — in a fleet, archive explosion
        retargets names mid-run (importer.rb:106), AFTER import_fleet's
        pre-reservation, so N zips sharing one member stem all race for
        the same table (found by the r09 mixed-format rehearsal). The
        no-clobber guard makes the loser safe; re-deriving against the
        live catalog and renaming again gives it the reference's _n
        suffix behavior instead of a failed import, without writing the
        rows again."""
        attempts = 0
        while True:
            try:
                self.catalog.commit(staging, self.suggested_name)
                return
            except (ValueError, OSError) as exc:
                # Only genuine name collisions retry (ADVICE r09: a
                # bare-OSError catch re-published full datasets on
                # disk-full etc.): commit's explicit no-clobber
                # ValueError, or LocalCatalog's rename losing the
                # race (EEXIST/ENOTEMPTY on the target dir).
                is_collision = (
                    isinstance(exc, ValueError) and "already exists" in str(exc)
                ) or (
                    isinstance(exc, OSError)
                    and exc.errno in (errno.EEXIST, errno.ENOTEMPTY)
                )
                attempts += 1
                if (
                    not is_collision
                    or attempts > 8
                    or not self.catalog.exists(self.suggested_name)
                ):
                    raise  # not a name collision (or livelock): surface
                self.suggested_name = naming.get_valid_name(
                    self.suggested_name, self.catalog.table_names()
                )
                self.log(f"publish collision, retrying as {self.suggested_name}")


class Exporter:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        table: str,
        type: str = "csv",
        out_dir: str = ".",
    ):
        self.spark = spark
        self.catalog = catalog
        self.table = table
        self.type = type
        self.out_dir = out_dir

    def run(self) -> ExportResult:
        from .sinks import files as fsinks

        import os

        df = self.catalog.read(self.spark, self.table)
        if self.type == "csv":
            path = fsinks.export_csv_zip(df, self.table, self.out_dir)
        elif self.type == "kml":
            path = fsinks.export_kmz(df, self.table, self.out_dir)
        elif self.type == "shp":
            path = fsinks.export_shp_zip(df, self.table, self.out_dir)
        elif self.type == "json":
            # engine extension: partitioned JSON directory (scalable sink)
            path = os.path.join(self.out_dir, f"{self.table}_json")
            fsinks.write_json_dir(df, path)
        elif self.type == "parquet":
            # engine extension: partitioned parquet directory
            path = os.path.join(self.out_dir, f"{self.table}_parquet")
            fsinks.write_parquet_dir(df, path)
        else:
            raise ValueError(f"unsupported export type {self.type!r}")
        # exporter.rb:51: export_type carries the leading dot
        return ExportResult(
            name=self.table, import_type=f".{self.type}", path=path
        )


@dataclass
class FleetItem:
    """One file's outcome in a fleet import: result XOR error."""

    path: str
    result: ImportResult | None = None
    error: str | None = None


def import_fleet(
    spark: SparkSession,
    catalog: Catalog,
    paths: list[str],
    max_parallel: int = 8,
    debug: bool = False,
) -> list[FleetItem]:
    """Parallel multi-file import — the FLEET is the parallel unit
    (SCALE.md: a single-file import is inherently one pipeline, but a
    backlog of files is embarrassingly parallel). Thread-based: each
    import submits its Spark jobs concurrently and the shared scheduler
    interleaves stages across all 32 (or 1000-executor) slots; the
    catalog's staged-publish protocol keeps each table's appearance
    atomic regardless of interleaving.

    Names are reserved up front against both the live catalog and the
    fleet itself, so two files with the same stem cannot race to the
    same table (the publish no-clobber guard would catch it, but
    pre-reservation turns a runtime failure into the reference's _n
    suffix behavior, importer.rb:567-574). One file's failure never
    affects the others — per-file errors are returned, not raised."""
    from concurrent.futures import ThreadPoolExecutor

    reserved = set(catalog.table_names())
    importers: list[Importer] = []
    for p in paths:
        imp = Importer(spark, catalog, p, debug=debug)
        name = naming.get_valid_name(imp.suggested_name, sorted(reserved))
        imp.suggested_name = name
        reserved.add(name)
        importers.append(imp)

    items = [FleetItem(path=p) for p in paths]

    def work(i: int) -> None:
        try:
            items[i].result = importers[i].run()
        except Exception as e:  # per-file isolation by contract
            items[i].error = f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=max_parallel) as ex:
        list(ex.map(work, range(len(importers))))
    return items
