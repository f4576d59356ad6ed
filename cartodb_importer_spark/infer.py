"""CSV sniffing + type inference (SURVEY §2.2, O25-O27).

The reference's ``guess_schema`` (importer.rb:480-560) types CSV columns
with per-cell regexes and a monotone promotion lattice
``integer < float < varchar`` (blanks skipped, int32 overflow promotes
integer -> float). The lattice is an ordinal max, so one expression,
``cell_ordinal``, types a cell wherever the rows are: in a Spark aggregate
(``infer_column_types`` on a DataFrame, one map-side-combined pass), or in
an Observation riding an import's publish write (``lattice_max``), which
is how ``Importer.run`` checks the types ``read_csv`` guessed from the
file head without a pass of its own. A spreadsheet, or a CSV head, is
on the driver, so its columns are typed where they already are: the same
lattice and casts run on its ``pyarrow.Table`` with ``pyarrow.compute``,
and no Spark job runs.

Cells the lattice admits but Spark's cast cannot parse (``1|5`` matches
FLOAT_RX; a trailing U+0085 passes Java's ``$``) become NULL: the casts
are ``try_cast``, so one such cell no longer fails the import under
Spark's default ANSI mode.

Divergence note (documented, deliberate): the reference only ever promotes
from ``integer`` — a column whose FIRST non-blank cell parses as float stays
float even if later cells are text (importer.rb:536-547). That rule is
row-order-dependent and does not distribute; we use the pure lattice (any
text cell => varchar), which is also what the reference's comments describe.

Sniffers (delimiter/encoding/quote) run driver-side over a bounded head
sample — same as the reference, which sniffs the header line only. The
reference guesses the encoding with chardet; here a head that decodes as
UTF-8 is UTF-8 and any other is latin-1.
"""

from __future__ import annotations

import codecs
import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

# importer.rb:528-531 — per-cell typing regexes, verbatim (the float class
# [\.|\,] genuinely contains '|'; quirk preserved).
FLOAT_RX = r"^\-?[0-9]+[.|,][0-9]+$"
INT_RX = r"^[0-9]+$"
INT32_MAX = 2147483647  # importer.rb:544

_ORD_TO_TYPE = {0: "integer", 1: "float", 2: "varchar"}

# The Java-regex semantics Spark's rlike gives INT_RX, FLOAT_RX and \S,
# restated for RE2 (pyarrow.compute): Java's \s is [ \t\n\x0B\f\r] only,
# and Java's `$` also matches just before one final line terminator.
_JAVA_EOL = r"(?:\r\n|[\n\r\x{85}\x{2028}\x{2029}])?$"
_NONBLANK_RE2 = r"[^ \t\n\x0b\f\r]"
_INT_RE2 = INT_RX[:-1] + _JAVA_EOL
_FLOAT_RE2 = FLOAT_RX[:-1] + _JAVA_EOL
# What Spark's string->number cast parses among the cells the lattice
# admits: the number, once the cast's trim drops an ASCII line terminator.
_CASTABLE_RE2 = r"^(?P<n>-?[0-9]+(?:\.[0-9]+)?)(?:\r\n|[\n\r])?$"

_SNIFF_BYTES = 1 << 20  # head sample sniff_encoding decodes


def cell_ordinal(cell: Column) -> Column:
    """A string cell's place in the lattice: 0 integer, 1 float, 2 varchar,
    NULL for a blank cell. Only a cell of 10 or more characters can pass
    INT32_MAX, so the length test spares every shorter integer the double
    cast; And evaluates its right side only when the left is true."""
    return (
        F.when(cell.isNull() | ~cell.rlike(r"\S"), F.lit(None))
        .when(
            cell.rlike(INT_RX),
            F.when(
                (F.length(cell) >= 10) & (cell.try_cast("double") > INT32_MAX), 1
            ).otherwise(0),
        )
        .when(cell.rlike(FLOAT_RX), F.lit(1))
        .otherwise(F.lit(2))
    )


def lattice_max(column: str) -> Column:
    """The lattice aggregate of one column, named after it: NULL when the
    column holds no non-blank cell."""
    return F.max(cell_ordinal(F.col(column))).alias(column)


def types_of(ordinals: dict, default: str | None = "varchar") -> dict:
    """{column: lattice ordinal or None} -> {column: type}; a column that
    never held a non-blank value gets ``default`` (importer.rb:557)."""
    return {
        c: _ORD_TO_TYPE[o] if o is not None else default
        for c, o in ordinals.items()
    }


def infer_column_types(
    data: DataFrame | pa.Table,
    columns: list[str] | None = None,
    default: str | None = "varchar",
) -> dict[str, str]:
    """§2.2 inference: per column, ``max(ordinal(cell))`` with blanks
    contributing nothing. A DataFrame is typed by one distributed
    aggregate; a ``pyarrow.Table`` on the driver, with no Spark job.

    Returns {column: 'integer'|'float'|'varchar'} — columns that never held
    a non-blank value get ``default``: 'varchar' (importer.rb:557), or
    None where the caller must tell "no evidence" from text.
    """
    if isinstance(data, pa.Table):
        columns = columns or data.column_names
        ordinals = {c: _arrow_ordinal(data[c]) for c in columns}
    else:
        columns = columns or data.columns
        row = data.agg(*[lattice_max(c) for c in columns]).first()
        ordinals = {c: row[c] for c in columns}
    return types_of(ordinals, default)


def _arrow_number(col: pa.ChunkedArray, to: pa.DataType) -> pa.ChunkedArray:
    """Spark's try_cast of a lattice-admitted cell to a number."""
    m = pc.extract_regex(col, _CASTABLE_RE2)
    return pc.cast(pc.struct_field(m, [0]), to)


def _arrow_ordinal(col: pa.ChunkedArray) -> int | None:
    nonblank = pc.fill_null(pc.match_substring_regex(col, _NONBLANK_RE2), False)
    is_int = pc.match_substring_regex(col, _INT_RE2)
    is_float = pc.match_substring_regex(col, _FLOAT_RE2)
    if not pc.any(nonblank).as_py():
        return None
    if pc.any(pc.and_(nonblank, pc.invert(pc.or_(is_int, is_float)))).as_py():
        return 2
    # a cell the cast nulls is not "big": Spark's when(null) falls through
    big = pc.fill_null(pc.greater(_arrow_number(col, pa.float64()), INT32_MAX), False)
    if pc.any(pc.and_(nonblank, pc.or_(is_float, pc.and_(is_int, big)))).as_py():
        return 1
    return 0


def apply_inferred_types(
    data: DataFrame | pa.Table, types: dict[str, str]
) -> DataFrame | pa.Table:
    """Cast string columns per the inferred lattice. Floats accept ',' as
    the decimal separator (importer.rb:528: the regex admits it), so a
    comma-decimal cell is normalized before the cast."""
    if isinstance(data, pa.Table):
        out = {}
        for c in data.column_names:
            t = types.get(c)
            if t == "integer":
                out[c] = _arrow_number(data[c], pa.int32())
            elif t == "float":
                out[c] = _arrow_number(
                    pc.replace_substring(data[c], ",", "."), pa.float64()
                )
            else:
                out[c] = data[c]
        return pa.table(out)
    cols = []
    for c in data.columns:
        t = types.get(c)
        if t == "integer":
            cols.append(F.col(c).try_cast("int").alias(c))
        elif t == "float":
            cols.append(
                F.regexp_replace(F.col(c), ",", ".").try_cast("double").alias(c)
            )
        else:
            cols.append(F.col(c))
    return data.select(*cols)


def spark_schema_for(types: dict[str, str]) -> st.StructType:
    m = {
        "integer": st.IntegerType(),
        "float": st.DoubleType(),
        "varchar": st.StringType(),
    }
    return st.StructType([st.StructField(c, m[t], True) for c, t in types.items()])


# ------------------------------------------------------------------ sniffers


def sniff_delimiter(header_line: str) -> str:
    """O25 (importer.rb:489-502): if the header doesn't split on ',', count
    columns under every candidate non-word character and pick the max."""
    if len(header_line.split(",")) > 1:
        return ","
    candidates = {c for c in re.findall(r"[^\w\s]", header_line)}
    if not candidates:
        return ","
    counts = {c: len(header_line.split(c)) for c in candidates}
    # reference sorts by count and takes the last (max); ties resolve by
    # sort order, which we make deterministic on (count, char)
    return max(sorted(counts), key=lambda c: counts[c])


def sniff_quote(sample_cells: list[str]) -> str | None:
    """O27 (importer.rb:510-526): detect ", `, or ' wrapping on cells."""
    for cell in sample_cells:
        m = re.match(r"^([\"`'])[^\"`']+([\"`'])$", cell or "")
        if m and m.group(1) == m.group(2):
            return m.group(1)
    return None


def sniff_encoding(path: str) -> str:
    """O26 (csv_normalizer.py:8-27): ``utf-8-sig`` when the file starts
    with a BOM, ``utf-8`` when its head decodes as UTF-8, else
    ``latin-1`` (which decodes any byte). A multi-byte character cut by
    the end of the head is not a decode error."""
    with open(path, "rb") as f:
        head = f.read(_SNIFF_BYTES)
    if head.startswith(codecs.BOM_UTF8):
        return "utf-8-sig"
    try:
        codecs.getincrementaldecoder("utf-8")().decode(
            head, final=len(head) < _SNIFF_BYTES
        )
    except UnicodeDecodeError:
        return "latin-1"
    return "utf-8"
