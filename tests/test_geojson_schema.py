"""Property-pin for the driver-side GeoJSON property schema.

``read_geojson`` parses the document on the driver and derives the property
schema there, by ``spark.read.json``'s inference rules, instead of running
``spark.read.json`` over the property texts as a Spark job. This test
re-derives the equivalence against the live engine: on seeded property
bags (nested objects, conflicting types, null-only and missing keys,
booleans, arrays, integers past the long range, floats in string columns),
the columns ``read_geojson`` produces must carry the types and values
``spark.read.json`` gives for the same records, for a FeatureCollection
and for a plain JSON array of records.
"""

from __future__ import annotations

import json
import random

import pytest

from cartodb_importer_spark import naming
from cartodb_importer_spark.readers.geojson import read_geojson

_FLOATS = [1.5, -0.25, 0.001, 1e-05, 1e7, 12345678.9, 1e22, -3.0, 0.1, 2.5e-08]
_STRINGS = [
    "a", "", 'q"uote', "back\\slash", "tab\tnl\n", "ctl\x01\x1f", "ünï ☃", "{x}",
]


def _scalar(rng: random.Random):
    return rng.choice([
        lambda: rng.randint(-5, 5),
        lambda: rng.randint(2**63, 2**70),  # past long: decimal(p, 0)
        lambda: rng.choice(_FLOATS),
        lambda: rng.choice([True, False]),
        lambda: rng.choice(_STRINGS),
        lambda: None,
    ])()


def _nested(rng: random.Random, depth: int):
    r = rng.random()
    if depth == 0 or r < 0.4:
        return _scalar(rng)
    if r < 0.7:
        keys = rng.sample(["x", "Y", "z z", "ü", ""], rng.randint(0, 3))
        return {k: _nested(rng, depth - 1) for k in keys}
    return [_nested(rng, depth - 1) for _ in range(rng.randint(0, 3))]


# per key: how its values are drawn, so each run mixes stable and
# conflicting keys
_PROFILES = {
    "count": lambda rng: rng.randint(0, 10**6),
    "Score": lambda rng: rng.choice([rng.randint(0, 9), rng.choice(_FLOATS)]),
    "flag": lambda rng: rng.choice([True, False, None]),
    "label": lambda rng: rng.choice(_STRINGS),
    "nothing": lambda rng: None,
    "big": lambda rng: rng.choice([rng.randint(-9, 9), rng.randint(2**63, 2**64)]),
    "meta": lambda rng: {"a": rng.randint(0, 3), "b": rng.choice([None, "s", 1.5])},
    "tags": lambda rng: [rng.randint(0, 3) for _ in range(rng.randint(0, 3))],
    "empty": lambda rng: {},
    "mixed": lambda rng: _nested(rng, 2),
    "deep": lambda rng: _nested(rng, 3) if rng.random() < 0.5 else {"k": [1, 2.5]},
    "nest": lambda rng: {
        "inner": {k: rng.randint(0, 3) for k in rng.sample("pqr", rng.randint(0, 3))},
        "list": [{"s": rng.choice([1, 2.5, None])} for _ in range(rng.randint(0, 2))],
    },
}


def _records(seed: int, n: int = 30) -> list[dict]:
    rng = random.Random(seed)
    keys = rng.sample(sorted(_PROFILES), rng.randint(3, len(_PROFILES)))
    return [
        {k: _PROFILES[k](rng) for k in keys if rng.random() < 0.85}
        for _ in range(n)
    ]


def _spark_read_json(spark, records):
    return spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in records])
    )


def _assert_same(got, want, extra=()):
    want_names = naming.sanitize_columns(want.columns + list(extra))
    assert got.columns == want_names
    assert [f.dataType for f in got.schema.fields][: len(want.columns)] == [
        f.dataType for f in want.schema.fields
    ]
    n = len(want.columns)
    assert [tuple(r)[:n] for r in got.collect()] == [tuple(r) for r in want.collect()]


@pytest.mark.parametrize("seed", range(8))
def test_feature_properties_match_spark_read_json(spark, tmp_path, seed):
    props = _records(seed)
    features = [
        {"type": "Feature", "properties": p,
         "geometry": {"type": "Point", "coordinates": [i + 0.25, 0.5]}}
        for i, p in enumerate(props)
    ]
    for f in features[::3]:
        f["geometry"] = None
    path = tmp_path / "f.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": features}))
    got, meta = read_geojson(spark, str(path))
    assert meta["rows"] == len(props) and meta["the_geom_geojson"] is False
    _assert_same(got, _spark_read_json(spark, props), extra=["the_geom"])
    geoms = [r[-1] for r in got.collect()]
    assert geoms == [f"POINT({i}.25 0.5)" if i % 3 else None for i in range(len(props))]


@pytest.mark.parametrize("seed", range(8, 12))
def test_plain_json_array_matches_spark_read_json(spark, tmp_path, seed):
    records = _records(seed)
    path = tmp_path / "records.json"
    path.write_text(json.dumps(records))
    got, meta = read_geojson(spark, str(path))
    assert meta["rows"] == len(records)
    _assert_same(got, _spark_read_json(spark, records))


def test_non_object_record_is_rejected(tmp_path, spark):
    path = tmp_path / "bad.json"
    path.write_text("[{\"a\": 1}, 5]")
    with pytest.raises(ValueError, match="record 1 is not a JSON object"):
        read_geojson(spark, str(path))
