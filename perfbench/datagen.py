"""Seeded input generator for the benchmark workloads.

``prepare(workload, seed, cache_root)`` returns a manifest describing every
input file it wrote and what a correct import, export or query of it must
produce. The same seed always writes byte-identical files; generation is
cached per (workload, seed) behind a done-marker, and its time is never part
of any reported metric.

* ``analytic_queries``: a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the headline queries read, written
  as parquet with pyarrow.
* ``mixed_backlog``: 110 small files in eleven formats (CSV variants, zip,
  tar.gz, XLSX, zipped point and polygon shapefiles, GeoJSON, KML, GPX),
  several sharing a stem, exports of tables published during set-up, and
  three large lineitem-shaped CSVs in a queue of their own. They are written by
  DuckDB, with lat/lon, a quoted free-text column holding delimiters and
  quotes, a comma-decimal column and an integer column past int32.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from . import formats

#: rows per table at scale factor 1 (the shapes of the repo's TPC-H-ish set)
TABLE_ROWS = {
    "lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
    "part": 200_000, "supplier": 10_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
#: small enough that a 15-second window holds two passes of the suite
ANALYTIC_SF = 0.005

#: large lineitem-shaped CSVs, fed in turn by one client of the backlog;
#: each runs past the 200k-line quote-parity scan of the CSV reader, and
#: one size keeps their median import time a single mode
BULK_FILES = 3
BULK_ROWS = 220_000

#: mixed_backlog: (kind, rows) per block, in queue order; every block holds
#: one file of each kind, so any prefix of the op queue has the same format
#: mix. The three shared-stem kinds come first so they run concurrently.
MIXED_KINDS = (
    ("csv", 2000), ("csv_zip", 2000), ("csv_tar_gz", 1000), ("xlsx", 500),
    ("shp_points", 2000), ("geojson", 1000), ("csv_semicolon", 1000), ("kml", 500),
    ("gpx", 5000), ("csv_latin1", 500), ("shp_polygons", 300),
)
MIXED_BLOCKS = 10
EXPORT_TYPES = ("csv", "kml", "shp")

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_CITIES = ("Alcalá", "Córdoba", "Logroño", "Málaga", "Zürich", "Besançon",
           "Göteborg", "Øresund", "Cádiz", "Jaén")


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _f(x: float, nd: int) -> str:
    return f"{x:.{nd}f}"


def _latlon(rng, n: int, missing: float):
    """Coordinates with 4 decimals. Values within 0.001 of zero are moved
    away from it: the engine renders a double that small in scientific
    notation, which its lat/lon validation rejects."""
    lat = np.round(rng.uniform(-60, 60, n), 4)
    lon = np.round(rng.uniform(-170, 170, n), 4)
    lat[np.abs(lat) < 0.001] += 0.5
    lon[np.abs(lon) < 0.001] += 0.5
    has = rng.random(n) >= missing
    return lat, lon, has


# ------------------------------------------------------------ analytic


def write_analytic_tables(out: str, seed: int, sf: float = ANALYTIC_SF) -> dict:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = {t: max(1, int(r * sf)) for t, r in TABLE_ROWS.items()}
    rng = _rng(seed, 1)

    def day_ts(lo: dt.date, days: np.ndarray):
        base = np.datetime64(lo.isoformat(), "us")
        return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))

    def pick(options, size):
        return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), size)].tolist())

    def keys(k):
        return pa.array(np.arange(k, dtype=np.int64))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    tables["customer"] = pa.table({
        "c_custkey": keys(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    tables["part"] = pa.table({
        "p_partkey": keys(npart),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": keys(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": keys(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": day_ts(dt.date(1995, 1, 1), rng.integers(0, 2404, no)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["O", "F"], nl),
        "l_shipdate": day_ts(dt.date(1995, 1, 2), rng.integers(0, 2498, nl)),
    })
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    tables["events"] = pa.table({
        "event_id": keys(ne),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], ne),
        "value": np.round(rng.uniform(0.01, 490.02, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if texts and r < 0.1:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.2:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    tables["documents"] = pa.table({
        "doc_id": keys(nd),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (nv, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": keys(nv),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {"sf_dir": out, "sf": sf, "rows": {k: t.num_rows for k, t in tables.items()}}


# ------------------------------------------------------------ bulk CSV

_NOTES = (
    'fast, slow; key', 'join "big" table', 'scan, filter, merge', 'plain note',
    'a;b;c', 'quote "q" and, comma', 'window, sort', 'value|part', 'the row',
)
BULK_TYPES = {
    "orderkey": "int32", "linenumber": "int32", "quantity": "int32",
    "extendedprice": "double", "discount": "double", "ship_ref": "double",
    "returnflag": "string", "shipdate": "string", "note": "string",
    "latitude": "double", "longitude": "double", "the_geom": "string",
}


def _bulk_csv(con, path: str, rng, rows: int) -> int:
    """Write one lineitem-shaped CSV with DuckDB; returns the number of
    rows that carry both coordinates."""
    import pyarrow as pa

    lat, lon, has = _latlon(rng, rows, 0.03)
    okey = rng.integers(0, 1_500_000, rows)
    cols = pa.table({
        "orderkey": okey,
        "linenumber": rng.integers(1, 8, rows),
        "quantity": rng.integers(1, 51, rows),
        "extendedprice": np.round(rng.uniform(900, 105000, rows), 2),
        "discount": rng.integers(0, 11, rows),
        "ship_ref": 3_000_000_000 + okey * 10 + rng.integers(0, 10, rows),
        "returnflag": np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, rows)],
        "shipday": rng.integers(0, 2498, rows),
        "note": np.asarray(_NOTES, dtype=object)[rng.integers(0, len(_NOTES), rows)],
        "lat": lat, "lon": lon, "has": has,
    })
    con.register("src", cols)
    con.execute(f"""
        COPY (SELECT orderkey, linenumber, quantity,
                     printf('%.2f', extendedprice) AS extendedprice,
                     printf('0,%02d', discount) AS discount,
                     ship_ref, returnflag,
                     strftime(DATE '1995-01-02' + CAST(shipday AS INTEGER), '%Y-%m-%d') AS shipdate,
                     note,
                     CASE WHEN has THEN printf('%.4f', lat) END AS latitude,
                     CASE WHEN has THEN printf('%.4f', lon) END AS longitude
              FROM src)
        TO '{path}' (FORMAT CSV, HEADER, DELIMITER ',', QUOTE '"')""")
    con.unregister("src")
    return int(has.sum())


def _bulk_files(out: str, seed: int) -> list[dict]:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect(config={
        "threads": 2,
        "autoinstall_known_extensions": "false",
        "autoload_known_extensions": "false",
    })
    files = []
    for i in range(BULK_FILES):
        stem = f"lineitem_geo_{i}"
        path = os.path.join(out, f"{stem}.csv")
        geoms = _bulk_csv(con, path, _rng(seed, 3, i), BULK_ROWS)
        files.append({"op": "import", "path": path, "kind": "bulk_csv", "rows": BULK_ROWS,
                      "geoms": geoms, "stem": stem, "types": BULK_TYPES})
    con.close()
    return files


# ------------------------------------------------------- mixed_backlog

_POINT_TYPES = {"id": "int32", "name": "string", "score": "double",
                "lat": "double", "lon": "double", "the_geom": "string"}


def _point_rows(rng, n: int, missing: float = 0.05):
    lat, lon, has = _latlon(rng, n, missing)
    score = np.round(rng.uniform(0.5, 999.5, n), 2)
    names = [f"site {w} {i}" for i, w in enumerate(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n)])]
    return lat, lon, has, score, names


def _csv_file(rng, n: int, delimiter=",", latin1=False):
    lat, lon, has, score, names = _point_rows(rng, n)
    dec = (lambda x, d: _f(x, d).replace(".", ",")) if delimiter == ";" else _f
    if latin1:
        names = [f"{_CITIES[i % len(_CITIES)]} {i}" for i in range(n)]
    header = ["id", "name", "score", "lat", "lon"]
    rows = [
        [i + 1, names[i], dec(score[i], 2),
         dec(lat[i], 4) if has[i] else "", dec(lon[i], 4) if has[i] else ""]
        for i in range(n)
    ]
    data = formats.csv_bytes(header, rows, delimiter, "latin-1" if latin1 else "utf-8")
    return data, int(has.sum()), dict(_POINT_TYPES)


def _mixed_file(kind: str, rng, n: int, stem: str) -> tuple[str, bytes, int, dict]:
    """(file name, bytes, rows with geometry, expected column types)"""
    if kind == "csv":
        data, g, t = _csv_file(rng, n)
        return f"{stem}.csv", data, g, t
    if kind == "csv_semicolon":
        data, g, t = _csv_file(rng, n, delimiter=";")
        return f"{stem}.csv", data, g, t
    if kind == "csv_latin1":
        data, g, t = _csv_file(rng, n, latin1=True)
        return f"{stem}.csv", data, g, t
    if kind == "csv_zip":
        data, g, t = _csv_file(rng, n)
        return f"{stem}.zip", formats.zip_bytes({f"{stem}.csv": data}), g, t
    if kind == "csv_tar_gz":
        data, g, t = _csv_file(rng, n)
        return f"{stem}.tar.gz", formats.tar_gz_bytes({f"{stem}.csv": data}), g, t
    if kind == "xlsx":
        lat, lon, has, score, names = _point_rows(rng, n)
        rows = [[i + 1, names[i], float(score[i]),
                 float(lat[i]) if has[i] else None, float(lon[i]) if has[i] else None]
                for i in range(n)]
        return (f"{stem}.xlsx", formats.xlsx_bytes(["id", "name", "score", "lat", "lon"], rows),
                int(has.sum()), dict(_POINT_TYPES))
    if kind in ("shp_points", "shp_polygons"):
        lat, lon, has, score, names = _point_rows(rng, n, missing=0.02)
        if kind == "shp_points":
            geoms = [(float(lon[i]), float(lat[i])) if has[i] else None for i in range(n)]
            shape = 1
        else:
            d = np.round(rng.uniform(0.01, 0.5, n), 4)
            geoms = [
                [[(x, y), (x, y + s), (x + s, y + s), (x + s, y), (x, y)]]
                if has[i] else None
                for i, (x, y, s) in enumerate(zip(lon.tolist(), lat.tolist(), d.tolist()))
            ]
            shape = 5
        fields = [("ID", "N", 9, 0), ("NAME", "C", 40, 0), ("VALUE", "N", 12, 2)]
        recs = [[i + 1, names[i], float(score[i])] for i in range(n)]
        members = formats.shapefile_members(stem, shape, geoms, fields, recs)
        types = {"gid": "int32", "id": "int64", "name": "string", "value": "double",
                 "the_geom": "string"}
        return f"{stem}.zip", formats.zip_bytes(members), int(has.sum()), types
    if kind == "geojson":
        lat, lon, has, score, names = _point_rows(rng, n)
        feats = [({"fid": i + 1, "name": names[i], "score": float(score[i])},
                  (float(lon[i]), float(lat[i])) if has[i] else None) for i in range(n)]
        types = {"fid": "int64", "name": "string", "score": "double", "the_geom": "string"}
        return f"{stem}.geojson", formats.geojson_bytes(feats), int(has.sum()), types
    if kind == "kml":
        lat, lon, has, score, names = _point_rows(rng, n)
        pms = [(names[i], f"score {score[i]}", {"code": f"C{i:05d}", "level": str(i % 7)},
                (float(lon[i]), float(lat[i])) if has[i] else None) for i in range(n)]
        types = {c: "string" for c in ("name", "description", "code", "level", "the_geom")}
        return f"{stem}.kml", formats.kml_bytes(pms), int(has.sum()), types
    if kind == "gpx":
        lat, lon, _, _, _ = _point_rows(rng, n, missing=0.0)
        ele = np.round(rng.uniform(0, 2500, n), 1)
        pts = [(float(lon[i]), float(lat[i]), float(ele[i]),
                f"2024-01-01T{(i // 3600) % 24:02d}:{(i // 60) % 60:02d}:{i % 60:02d}Z")
               for i in range(n)]
        half = n // 2
        types = {"ogc_fid": "int32", "track_fid": "int32", "track_seg_id": "int32",
                 "ele": "string", "time": "string", "the_geom": "string"}
        return f"{stem}.gpx", formats.gpx_bytes([[pts[:half], pts[half:]]]), n, types
    raise ValueError(kind)


#: kinds whose files in one block share a stem (publish-collision retry)
_SHARED_STEM = ("csv", "csv_zip", "csv_tar_gz")


def _block(out: str, seed: int, b: int, tag: str) -> list[dict]:
    files = []
    for k, (kind, rows) in enumerate(MIXED_KINDS):
        stem = f"parcels_{tag}{b:02d}" if kind in _SHARED_STEM else f"{kind}_{tag}{b:02d}"
        name, data, geoms, types = _mixed_file(kind, _rng(seed, 5, b, k, ord(tag)), rows, stem)
        sub = os.path.join(out, f"{tag}{b:02d}", kind)
        os.makedirs(sub, exist_ok=True)
        path = os.path.join(sub, name)
        with open(path, "wb") as f:
            f.write(data)
        files.append({"path": path, "kind": kind, "rows": rows, "geoms": geoms,
                      "stem": stem, "types": types})
    return files


def write_mixed_backlog(out: str, seed: int) -> dict:
    """The seed sets every value in every file. The queue order is fixed:
    an export follows every fourth small file. With a seeded shuffle, the
    order alone moved a run's medians by up to 25% from seed to seed, while
    repeats of one seed agreed within 3%. The large CSVs form a queue of
    their own (``bulk``)."""
    bulk = _bulk_files(os.path.join(out, "bulk"), seed)
    ops: list[dict] = []
    # tables published during set-up that the exports read
    seeds = []
    for k, kind in enumerate(("csv", "shp_polygons", "geojson")):
        rows = (2000, 500, 1000)[k]
        stem = f"export_src_{k}"
        name, data, geoms, types = _mixed_file(kind, _rng(seed, 7, k), rows, stem)
        path = os.path.join(out, "export_src", name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        seeds.append({"path": path, "kind": kind, "rows": rows, "geoms": geoms,
                      "stem": stem, "types": types})
    n_exports = 0
    for b in range(MIXED_BLOCKS):
        for k, f in enumerate(_block(out, seed, b, "b"), start=1):
            ops.append({"op": "import", **f})
            if k % 4 == 0 or (k == len(MIXED_KINDS) and b % 2):
                src = n_exports % len(seeds)
                fmt = EXPORT_TYPES[(n_exports // len(seeds) + src) % len(EXPORT_TYPES)]
                ops.append({"op": "export", "kind": f"export_{fmt}", "source": src,
                            "type": fmt, "rows": seeds[src]["rows"]})
                n_exports += 1
    warm = [{"op": "import", **f} for f in _block(out, seed, 0, "w")]
    warm += [{"op": "export", "kind": f"export_{t}", "source": i, "type": t,
              "rows": seeds[i]["rows"]} for i, t in enumerate(EXPORT_TYPES)]
    return {"ops": ops, "bulk": bulk, "export_sources": seeds, "warmup": warm}


# ---------------------------------------------------------------- cache

WRITERS = {
    "analytic_queries": write_analytic_tables,
    "mixed_backlog": write_mixed_backlog,
}
_KEEP_CACHED = 2


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the inputs of one workload and seed. A done-marker
    written last holds the manifest, so a half-written directory from an
    interrupted run is regenerated instead of trusted. Older seeds of the
    same workload are evicted to bound disk use."""
    out = os.path.join(cache_root, f"{workload}-{seed}")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    siblings = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)
         if d.startswith(f"{workload}-")),
        key=os.path.getmtime,
    )
    for stale in siblings[: max(0, len(siblings) - _KEEP_CACHED + 1)]:
        shutil.rmtree(stale, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    manifest = WRITERS[workload](out, seed)
    with open(done + ".tmp", "w") as f:
        json.dump(_rebase(manifest, out, "."), f)
    os.replace(done + ".tmp", done)
    return manifest


def load(workload: str, seed: int, cache_root: str) -> dict:
    """``prepare`` with every path in the manifest absolute again (the
    cached manifest stores them relative to its directory)."""
    out = os.path.join(cache_root, f"{workload}-{seed}")
    prepare(workload, seed, cache_root)
    with open(os.path.join(out, ".done")) as f:
        return _rebase(json.load(f), ".", out)


def _rebase(obj, old: str, new: str):
    """Swap the ``old`` directory prefix of every path-valued field."""
    if isinstance(obj, dict):
        return {k: (os.path.join(new, os.path.relpath(v, old))
                    if k in ("path", "sf_dir") else _rebase(v, old, new))
                for k, v in obj.items()}
    if isinstance(obj, list):
        return [_rebase(v, old, new) for v in obj]
    return obj
