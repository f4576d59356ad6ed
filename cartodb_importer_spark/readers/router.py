"""Source staging + format routing (O1-O4, importer.rb:29-115).

* URL sources download to a temp file first (reference: wget, importer.rb:32).
* ZIP/KMZ archives are exploded to a temp dir; entries whose basename starts
  with '.' or '__' (MACOSX cruft) are skipped, and the FIRST entry with a
  supported extension becomes the import target, renaming the job after it
  (importer.rb:98-115 semantics, including the name retarget).
* Extension dispatch mirrors SUPPORTED_FORMATS (importer.rb:13).
"""

from __future__ import annotations

import os
import urllib.parse
import urllib.request
import zipfile

from pyspark.sql import DataFrame, SparkSession

SUPPORTED_FORMATS = [
    ".csv", ".shp", ".ods", ".xls", ".xlsx", ".tif", ".tiff",
    ".kml", ".kmz", ".js", ".json", ".geojson", ".tar", ".gz", ".tgz",
    ".gpx",
    # engine extensions past importer.rb:13 — distributed line-JSON + ORC
    ".jsonl", ".ndjson", ".orc",
]  # importer.rb:13


def stage_source(source: str, workdir: str) -> str:
    """O1/O2: URL -> download/copy into the workdir; local path -> use in
    place. file:// URLs are copied (the reference's wget handles them the
    same way)."""
    if source.startswith(("http://", "https://", "ftp://", "file://")):
        name = os.path.basename(urllib.parse.urlparse(source).path) or "download"
        target = os.path.join(workdir, name)
        urllib.request.urlretrieve(source, target)  # noqa: S310 (reference: wget)
        return target
    return source


def _skip_entry(name: str) -> bool:
    """importer.rb:102 skips entries matching ^(\\.|__). Applied per path
    component of the normalized name so `__MACOSX/x` and `dir/.hidden` are
    skipped either way, while GNU `tar -cf x .` members like `./file.csv`
    (whose raw name starts with a dot) are kept."""
    import posixpath

    norm = posixpath.normpath(name.replace("\\", "/")).lstrip("/")
    return any(
        part.startswith(".") or part.startswith("__")
        for part in norm.split("/")
        if part not in ("", ".")
    )


def explode_archive(path: str, workdir: str) -> tuple[str, str | None]:
    """O4: extract, skip dot/__ entries, pick the first supported entry.
    Returns (new_path, suggested_name_from_entry) — KMZ always selects the
    doc.kml-style entry via the same rule."""
    out_dir = os.path.join(workdir, "unzipped")
    os.makedirs(out_dir, exist_ok=True)
    with zipfile.ZipFile(path) as zf:
        members = []
        for info in zf.infolist():
            base = os.path.basename(info.filename)
            if not base or _skip_entry(info.filename):
                continue
            members.append(info)
        zf.extractall(out_dir, [m.filename for m in members])
    for info in members:
        ext = os.path.splitext(info.filename)[1].lower()
        if ext in SUPPORTED_FORMATS:
            entry = os.path.join(out_dir, info.filename)
            name = os.path.splitext(os.path.basename(info.filename))[0]
            return entry, name
    raise ValueError(f"no supported entry in archive {path}")


def explode_tar(path: str, workdir: str) -> tuple[str, str | None]:
    """O4 for tarballs (.tar / .tgz / .tar.gz): same skip rules and
    first-supported-entry selection as :func:`explode_archive`."""
    import tarfile

    out_dir = os.path.join(workdir, "untarred")
    os.makedirs(out_dir, exist_ok=True)
    with tarfile.open(path) as tf:
        members = [
            m
            for m in tf.getmembers()
            if m.isfile()
            and os.path.basename(m.name)
            and not _skip_entry(m.name)
        ]
        tf.extractall(out_dir, members=members, filter="data")
    for m in members:
        ext = os.path.splitext(m.name)[1].lower()
        if ext in SUPPORTED_FORMATS:
            return (
                os.path.join(out_dir, m.name),
                os.path.splitext(os.path.basename(m.name))[0],
            )
    raise ValueError(f"no supported entry in archive {path}")


def route(
    spark: SparkSession, path: str, workdir: str
) -> tuple[DataFrame, dict]:
    """O3 dispatch: returns (DataFrame, meta). meta['suggested_name'] is set
    when archive explosion retargets the table name.

    Downloads and extracted archives land in ``workdir``, which the caller
    owns: spark.read.csv is lazy, so those files must outlive the read
    until the caller's terminal action (the Importer removes the workdir
    after the sink write, or after any failure — O20's `ensure`).
    """
    from .csv import read_csv
    from .excel import read_excel
    from .geojson import read_geojson
    from .gpx import read_gpx
    from .kml import read_kml
    from .shp import read_shp

    meta_extra: dict = {}
    path = stage_source(path, workdir)
    ext = os.path.splitext(path)[1].lower()
    # Unwrap containers until the extension is a terminal format: an
    # archive entry can itself be compressed (inner.csv.gz inside a tar),
    # which a single-pass dispatch would drop through to the unsupported
    # branch. Bounded — pathological nesting is a malformed upload.
    for _ in range(8):
        if ext in (".zip", ".kmz"):
            path, suggested = explode_archive(path, workdir)
            ext = os.path.splitext(path)[1].lower()
            meta_extra["suggested_name"] = suggested
        elif ext in (".tar", ".tgz") or path.endswith(".tar.gz"):
            path, suggested = explode_tar(path, workdir)
            ext = os.path.splitext(path)[1].lower()
            meta_extra["suggested_name"] = suggested
        elif ext == ".gz":
            import gzip
            import shutil

            inner = os.path.join(workdir, os.path.basename(path)[: -len(".gz")])
            with gzip.open(path, "rb") as src, open(inner, "wb") as dst:
                shutil.copyfileobj(src, dst)
            path = inner
            ext = os.path.splitext(path)[1].lower()
            # the decompressed file names the table (overwrites an
            # enclosing archive's entry.csv.gz-derived name)
            if ext not in (".tar", ".tgz"):
                meta_extra["suggested_name"] = os.path.splitext(
                    os.path.basename(path)
                )[0]
        else:
            break

    if ext == ".csv":
        # string-typed, with a head guess the Importer checks in its write
        df, meta = read_csv(spark, path, infer=False, workdir=workdir)
    elif ext in (".xls", ".xlsx", ".ods"):
        df, meta = read_excel(spark, path)
    elif ext in (".json", ".js", ".geojson"):
        df, meta = read_geojson(spark, path)
    elif ext in (".jsonl", ".ndjson"):
        from .jsonl import read_jsonl

        df, meta = read_jsonl(spark, path)
    elif ext == ".orc":
        from .jsonl import read_orc

        df, meta = read_orc(spark, path)
    elif ext == ".kml":
        df, meta = read_kml(spark, path)
    elif ext == ".gpx":
        df, meta = read_gpx(spark, path)
    elif ext == ".shp":
        df, meta = read_shp(spark, path)
    elif ext in (".tif", ".tiff"):
        from .raster import read_raster

        df, meta = read_raster(spark, path)
    else:
        raise ValueError(f"unsupported format: {ext}")
    meta.update(meta_extra)
    return df, meta
