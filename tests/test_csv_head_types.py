"""A CSV import types its columns from the file head and checks the guess
inside the publish write.

``read_csv`` types the records of the 64 KiB head on the
driver; ``Importer.run`` casts to that guess and observes the exact lattice
of every column guessed below varchar on the write, staging again only when
a cell past the head moved a column up. The tests here hold the published
table to the exact full-file aggregate, on cells the lattice treats
unevenly and with the type change on either side of the head boundary.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cartodb_importer_spark.importer import Importer
from cartodb_importer_spark.infer import (
    INT32_MAX,
    INT_RX,
    FLOAT_RX,
    apply_inferred_types,
    cell_ordinal,
    infer_column_types,
)
from cartodb_importer_spark.readers.csv import read_csv
from cartodb_importer_spark.sinks.catalog import LocalCatalog

HEAD = 1 << 16

# cells the lattice treats unevenly: blanks, a FLOAT_RX cell the cast nulls,
# comma decimals, integers around the length guard, a trailing U+0085
_CELLS = [
    "",
    " ",
    "\t ",
    "1|5",
    "3,25",
    "-0,5",
    "2.5",
    "42",
    "007",
    "123456789",  # 9 digits: never past INT32_MAX
    "000000042",
    "0000000042",  # 10 digits, small
    "2147483647",
    "2147483648",
    "0000000000000000042",  # 19 digits, small
    "0000000002147483648",  # 19 digits, past INT32_MAX
    "1234567890123456789",
    "12\x85",  # Java's $ matches before U+0085; the cast nulls it
    "abc",
]
_NUMERIC = [c for c in _CELLS if c.strip() and c != "abc"]
# cells that move an integer column up the lattice
_MOVERS = ["1|5", "3,25", "2.5", "2147483648", "0000000002147483648", "abc"]

_TYPE_OF = {"integer": "int32", "float": "double", "varchar": "string"}


def _csv_cell(v: str) -> str:
    return f'"{v}"' if "," in v or "|" in v else v


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(_csv_cell(v) for v in r) + "\n")


def _published(catalog, name):
    table = pq.read_table(os.path.join(catalog.warehouse, name))
    types = {f.name: str(f.type) for f in table.schema}
    return types, sorted(table.to_pylist(), key=lambda r: r["id"])


def _expected(spark, path):
    raw, _ = read_csv(spark, path, os.path.dirname(path))
    types = infer_column_types(raw)
    rows = [r.asDict() for r in apply_inferred_types(raw, types).collect()]
    return {c: _TYPE_OF[t] for c, t in types.items()}, sorted(rows, key=lambda r: r["id"])


def _rows_past_head(width: int) -> int:
    """Row count whose file runs past the 64 KiB head."""
    return HEAD // width + 200


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_published_types_equal_full_file_lattice(spark, tmp_path, seed):
    rng = random.Random(seed)
    n = _rows_past_head(24)
    late = rng.randrange(n - 100, n)  # past the head
    early = rng.randrange(1, 50)  # inside the head
    rows = []
    for i in range(n):
        rows.append(
            [
                str(i),
                # integer in the head, moved past it
                rng.choice(_MOVERS) if i == late else str(rng.randrange(100)),
                # integer but for one cell inside the head
                rng.choice(_MOVERS) if i == early else str(rng.randrange(100)),
                # blank in the head, numeric past it
                rng.choice(_NUMERIC) if i >= late else rng.choice(["", " "]),
                rng.choice(_CELLS),
                rng.choice(_NUMERIC + ["", " "]),
            ]
        )
    path = str(tmp_path / f"lattice_{seed}.csv")
    _write_csv(path, ["id", "late", "early", "blank_head", "any", "numeric"], rows)
    assert os.path.getsize(path) > HEAD

    want_types, want_rows = _expected(spark, path)
    catalog = LocalCatalog(str(tmp_path / "wh"))
    res = Importer(spark, catalog, path).run()
    got_types, got_rows = _published(catalog, res.name)
    assert got_types == want_types
    assert res.rows_imported == n
    assert got_rows == want_rows


def test_late_text_cell_publishes_varchar(spark, tmp_path):
    n = _rows_past_head(6)
    rows = [[str(i), str(i % 7)] for i in range(n)]
    rows[-1][1] = "x"
    path = str(tmp_path / "late.csv")
    _write_csv(path, ["id", "v"], rows)
    assert os.path.getsize(path) > HEAD
    catalog = LocalCatalog(str(tmp_path / "wh"))
    res = Importer(spark, catalog, path).run()
    types, got = _published(catalog, res.name)
    assert types == {"id": "int32", "v": "string"}
    assert got[-1]["v"] == "x" and got[0]["v"] == "0"
    assert any("head-sample types corrected" in line for line in res.log)


def test_geojson_the_geom_with_late_type_change(spark, tmp_path):
    """The the_geom probe is a first() over the CSV frame. Were the type
    check attached before it, its Observation would keep the probe's one
    row and miss the late text cell."""
    n = _rows_past_head(60)
    rows = []
    for i in range(n):
        geom = json.dumps({"type": "Point", "coordinates": [i + 0.5, 1.5]})
        rows.append([str(i), str(i % 9), '"' + geom.replace('"', '""') + '"'])
    rows[-1][1] = "late text"
    path = str(tmp_path / "geo.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("id,v,the_geom\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    assert os.path.getsize(path) > HEAD
    catalog = LocalCatalog(str(tmp_path / "wh"))
    res = Importer(spark, catalog, path).run()
    types, got = _published(catalog, res.name)
    assert types == {"id": "int32", "v": "string", "the_geom": "string"}
    assert got[-1]["v"] == "late text"
    assert got[3]["the_geom"] == "POINT(3.5 1.5)"
    assert "rebuilt the_geom from GeoJSON" in res.log
    assert f"georef metrics: 0 of {n} rows have null geometry" in res.log


def _parent_ordinal(cell):
    """The lattice expression before the length guard, verbatim."""
    return (
        F.when(cell.isNull() | ~cell.rlike(r"\S"), F.lit(None))
        .when(
            cell.rlike(INT_RX),
            F.when(cell.try_cast("double") > INT32_MAX, 1).otherwise(0),
        )
        .when(cell.rlike(FLOAT_RX), F.lit(1))
        .otherwise(F.lit(2))
    )


def test_length_guard_matches_unguarded_lattice(spark):
    cells = _CELLS + [
        None,
        "999999999",
        "1000000000",
        "2147483647\n",
        "214748364\n",
        "2147483648\r\n",
        "21474836\r\n",
        "99999999999999999999",
        "12345678\x85",
        "123456789\x85",
        "2147483648\x85",
    ]
    df = spark.createDataFrame([(c,) for c in cells], "c string")
    got = df.select(
        "c",
        cell_ordinal(F.col("c")).alias("new"),
        _parent_ordinal(F.col("c")).alias("old"),
    ).collect()
    assert len(got) == len(cells)
    assert [(r.c, r.new) for r in got] == [(r.c, r.old) for r in got]
    assert {r.new for r in got} == {None, 0, 1, 2}
