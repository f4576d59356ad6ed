"""Property-pin for the driver-side §2.2 lattice.

A spreadsheet's columns are typed on the driver: ``infer_column_types`` and
``apply_inferred_types`` run on its ``pyarrow.Table`` with RE2 regexes and
Arrow casts, while CSV columns are typed by the same functions as a Spark
aggregate with Java regexes and Spark casts. The two engines differ where
it is easy to miss: Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]`` (RE2's lacks
``\\x0B``), Java's ``$`` also matches before one final line terminator
(``\\n``, ``\\r\\n``, ``\\r``, U+0085, U+2028, U+2029), and Spark's cast trims
only chars <= 0x20. This test re-derives the equivalence against the live
engine: on an adversarial corpus plus seeded random columns, both sides
must infer the same type for every column and produce the same values.
"""

from __future__ import annotations

import random

import pyarrow as pa

from cartodb_importer_spark.infer import apply_inferred_types, infer_column_types

_CELLS = [
    "",
    " ",
    "\t",
    "\x0b",  # blank to Java's \s, not to RE2's
    "\x0c",
    "\r\n",
    "\xa0",  # NBSP: not blank to Java
    "0",
    "007",  # leading zeros
    "42",
    "2147483647",  # INT32_MAX stays integer
    "2147483648",  # promotes the column to float
    "99999999999999999999",
    "9" * 400,  # casts to Infinity
    "1.5",
    "-1.5",
    "1,5",  # comma decimal
    "-0,25",
    "1|5",  # matches FLOAT_RX ([.|,] holds '|'); the cast nulls it
    "-0.0",
    "12\n",  # Java's $ matches before a final \n; the cast trims it
    "12\r\n",
    "12\r",
    "12\x85",  # Java's $ matches before U+0085; the cast keeps it -> null
    "12 ",
    "1.5 ",
    "12\n\n",
    " 12",
    "12 ",
    "+12",
    "-12",
    "1e5",
    "1.",
    ".5",
    "1.5.5",
    "١٢",  # Arabic-Indic digits: not [0-9]
    "１２",  # fullwidth digits
    "abc",
    "12abc",
    "None",
]

_ALPHABET = "0123456789-.,| \t\n\r\x0b\x0c\x85 \xa0ae+"


def _columns(seed: int = 7, n: int = 150) -> list[list[str | None]]:
    rng = random.Random(seed)
    # cells the lattice admits as numbers, so that mixed columns often
    # come out integer or float rather than varchar
    numeric = ["0", "007", "42", "2147483647", "2147483648", "9" * 400, "1.5",
               "-1.5", "1,5", "-0,25", "1|5", "-0.0", "12\n", "12\r\n", "12\x85"]
    cols: list[list[str | None]] = [[c] for c in _CELLS]
    cols += [
        ["", " ", "\x0b", None],  # all blank -> varchar
        [None, None],  # all null -> varchar
        ["\x0b", "42"],  # integer: \x0B is blank to Java
        ["\xa0", "42"],  # varchar: NBSP is not
        ["12\x85", "3"],  # integer, the first cell cast to null
        ["1|5", "3"],  # float, the first cell cast to null
        ["2147483647", "1"],  # integer
        ["2147483648", "1"],  # float
    ]
    for _ in range(n):
        col = []
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.45:
                col.append(rng.choice(numeric))
            elif r < 0.6:
                col.append(rng.choice(_CELLS))
            elif r < 0.7:
                col.append(None)
            elif r < 0.85:
                col.append(str(rng.randint(0, 2**33)))
            else:
                k = rng.randint(0, 5)
                col.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
        cols.append(col)
    return cols


def test_arrow_lattice_and_casts_match_spark(spark):
    cols = _columns()
    names = [f"c{i}" for i in range(len(cols))]
    height = max(len(c) for c in cols)
    padded = [c + [None] * (height - len(c)) for c in cols]

    table = pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, padded)})
    arrow_types = infer_column_types(table)
    arrow_out = apply_inferred_types(table, arrow_types)

    df = spark.createDataFrame(
        list(zip(*padded)), ", ".join(f"{n} string" for n in names)
    )
    spark_types = infer_column_types(df)
    spark_rows = apply_inferred_types(df, spark_types).collect()

    type_diffs = [
        (cols[i], arrow_types[n], spark_types[n])
        for i, n in enumerate(names)
        if arrow_types[n] != spark_types[n]
    ]
    assert not type_diffs, f"{len(type_diffs)} columns typed apart: {type_diffs[:10]}"
    assert set(arrow_types.values()) == {"integer", "float", "varchar"}
    value_diffs = [
        (cols[i], arrow_out.column(n).to_pylist(), [r[n] for r in spark_rows])
        for i, n in enumerate(names)
        if arrow_out.column(n).to_pylist() != [r[n] for r in spark_rows]
    ]
    assert not value_diffs, f"{len(value_diffs)} columns cast apart: {value_diffs[:10]}"
    # the Arrow casts land on the types Spark declares for the lattice
    want = {"integer": pa.int32(), "float": pa.float64(), "varchar": pa.string()}
    assert all(arrow_out.schema.field(n).type == want[arrow_types[n]] for n in names)


def test_unparseable_float_cell_imports_as_null(spark):
    """A FLOAT_RX cell the cast cannot parse nulls instead of failing the
    whole column under Spark's ANSI casts, on both engines."""
    cells = ["1.5", "1|5", "2,25"]
    table = pa.table({"x": pa.array(cells)})
    assert apply_inferred_types(table, infer_column_types(table)).column(
        "x"
    ).to_pylist() == [1.5, None, 2.25]
    df = spark.createDataFrame([(c,) for c in cells], "x string")
    out = apply_inferred_types(df, infer_column_types(df)).collect()
    assert [r.x for r in out] == [1.5, None, 2.25]
