"""CSV reader (O8 + §2.2): spark.read.csv with the reference's sniffing
instead of Spark's inferSchema (whose rules differ — Spark infers
dates/timestamps; the reference's lattice never does).

Scale: the sniffers read a bounded head sample on the driver and the data
scan is distributed. The frame stays string-typed, and
``meta["head_types"]`` holds the §2.2 lattice of the 64 KiB head's
records, typed on the driver with no Spark job: ``Importer.run`` casts to
that guess and checks it inside the publish write.
"""

from __future__ import annotations

import codecs
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .. import naming
from ..infer import (
    infer_column_types,
    sniff_delimiter,
    sniff_encoding,
    sniff_quote,
)


def read_csv(
    spark: SparkSession, path: str, workdir: str
) -> tuple[DataFrame, dict]:
    """Returns (string-typed DataFrame, metadata). Column names are
    sanitized per O10 (blank headers -> unknow_name_<n>, reserved escapes).
    ``workdir`` is where any staged rewrite (a newline-normalized copy of
    a CR-only file, a BOM-stripped copy of a headerless utf-8-sig file)
    lands; the caller owns it and removes it after the frame's last
    action."""
    import csv as csvmod
    import io

    from pyspark.sql import types as st

    encoding = source_encoding = sniff_encoding(path)
    with open(path, "rb") as f:
        head = f.read(1 << 16)
    # Spark's line reader does not split lone-CR (classic-Mac) line
    # endings (the reference's estaciones.csv pending spec), so such a file
    # is staged as a UTF-8 copy with LF endings — Python's universal-newline
    # decoder splits them. Bounded driver IO, constant memory. Detection
    # COUNTS, it does not test presence: a quoted field with an embedded
    # 0x0A must not mask a CR-only file, and a CRLF/LF file with a CR inside
    # a quoted field must not trigger staging. Lone-CR terminators strictly
    # outnumbering bare-LF bytes is the signature of a CR-only file.
    crlf = head.count(b"\r\n")
    lone_cr = head.count(b"\r") - crlf
    bare_lf = head.count(b"\n") - crlf
    if lone_cr > bare_lf:
        target = os.path.join(workdir, os.path.basename(path) + ".utf8.csv")
        with open(path, encoding=encoding, errors="replace") as src, open(
            target, "w", encoding="utf-8", newline="\n"
        ) as dst:
            for line in src:  # universal newlines: \r and \r\n -> \n
                dst.write(line if line.endswith("\n") else line + "\n")
        path = target
        encoding = "utf-8"
    with open(path, encoding=encoding, errors="replace") as f:
        header_line = f.readline().rstrip("\r\n")
        sample_line = f.readline().rstrip("\r\n")
    delimiter = sniff_delimiter(header_line)
    quote = sniff_quote(
        header_line.split(delimiter) + sample_line.split(delimiter)
    ) or '"'
    # Records with embedded newlines (RFC4180 / Ruby CSV default) show up
    # as physical lines with an odd quote count. One bounded driver pass;
    # only such files pay multiLine's cost (Spark can't split a multiLine
    # file across tasks, so never turn it on blindly — the common
    # newline-free case must stay splittable at scale). Guard against a
    # SINGLE stray/malformed quote flipping the whole file into multiLine
    # (which would swallow every following line into one field): quotes
    # must RE-BALANCE — the scanned window's total quote count must be
    # even — before odd lines are believed to be genuine multiline
    # records. A lone unterminated quote stays a one-row parse error,
    # exactly as before this sniff existed. The 200k-line cap may only
    # STOP the scan at a point where the running quote total is even —
    # i.e. outside a quoted field. Breaking mid-field would leave the
    # window's parity odd and silently disable multiLine for a genuinely
    # multiline file; instead we scan on until the open field closes (a
    # truly unbalanced file scans to EOF, which is the lone case where
    # the full pass is unavoidable to distinguish "stray quote" from
    # "still inside a record").
    any_odd = False
    total_quotes = 0
    with open(path, encoding=encoding, errors="replace") as f:
        for i, line in enumerate(f):
            c = line.count(quote)
            total_quotes += c
            if c % 2 == 1:
                any_odd = True
            if i >= 200_000 and total_quotes % 2 == 0:
                break
    multiline = any_odd and total_quotes % 2 == 0

    # Parse the header driver-side and hand Spark an explicit schema:
    # blank/duplicate/reserved raw headers (all of which real CSVs carry)
    # would otherwise trip Spark's header-vs-schema checker.
    raw_names = next(
        csvmod.reader(io.StringIO(header_line), delimiter=delimiter, quotechar=quote)
    )

    # OGR CSV-driver header heuristic (the reference loads CSVs via
    # ogr2ogr, importer.rb:230-232): a first line containing ANY numeric
    # field is DATA, not a header — synthesize field_1..field_n instead
    # (estaciones2.csv golden: 30 rows from a 30-line headerless file).
    def _numeric(tok: str) -> bool:
        import math

        try:
            # finite only: a column literally named 'NaN'/'Inf' is a
            # header word, not a numeric cell
            return math.isfinite(float(tok.strip()))
        except ValueError:
            return False

    has_header = not any(_numeric(n) for n in raw_names if n.strip())
    if not has_header:
        raw_names = [f"field_{i + 1}" for i in range(len(raw_names))]
    names = naming.sanitize_columns(raw_names)
    schema = st.StructType(
        [st.StructField(n, st.StringType(), True) for n in names]
    )
    # 'utf-8-sig' is a Python-only codec name; Spark/Java needs UTF-8.
    # With a header, the BOM lives on the skipped header line (names come
    # from `schema`, parsed driver-side with the sig-aware codec above).
    # HEADERLESS + BOM: line 1 is data, so the BOM would land inside the
    # first cell — stage a BOM-stripped copy for Spark to read instead.
    spark_encoding = "ISO-8859-1" if encoding == "latin-1" else "UTF-8"
    if not has_header and encoding == "utf-8-sig":
        import shutil

        target = os.path.join(workdir, os.path.basename(path) + ".nobom.csv")
        with open(path, "rb") as src, open(target, "wb") as dst:
            src.read(len(codecs.BOM_UTF8))
            # stream-copy, never a whole-file driver read
            shutil.copyfileobj(src, dst, 1024 * 1024)
        path = target
    df = spark.read.csv(
        path,
        header=has_header,  # when true, skip line 1; names come from `schema`
        schema=schema,
        sep=delimiter,
        encoding=spark_encoding,
        quote=quote,
        # RFC4180 doubled-quote escaping ("" inside a quoted field), the
        # dialect Ruby CSV writes/reads (importer.rb's column_stripper) —
        # Spark's default escape is backslash, which leaves `""` verbatim.
        escape=quote,
        multiLine=multiline,
        enforceSchema=True,
        mode="PERMISSIVE",
    )
    # A record of the head is trusted only where Python's csv module
    # splits it as Spark does: not the last one when the head is cut
    # (it may be), nor when a stray quote swallowed the rest of the
    # file into one field (Spark reads that field up to its line end).
    records = _head_records(
        head.decode(source_encoding, errors="replace"), delimiter, quote
    )
    if len(head) == 1 << 16 or (any_odd and not multiline):
        records = records[:-1]
    if has_header:
        records = records[1:]
    head_table = pa.table(
        {
            n: pa.array(
                [r[i] if i < len(r) else None for r in records], pa.string()
            )
            for i, n in enumerate(names)
        }
    )
    meta: dict = {
        "delimiter": delimiter,
        "encoding": source_encoding,
        "spark_encoding": spark_encoding,
        "quote": quote,
        "has_header": has_header,
        "multiline": multiline,
        "import_type": ".csv",
        # None marks a column with no non-blank head cell: the write checks
        # it, where a varchar guess rests on a text cell already seen
        "head_types": infer_column_types(head_table, default=None),
    }
    return df, meta


def _head_records(text: str, delimiter: str, quote: str) -> list[list[str]]:
    """The records of a decoded head sample, up to the first one Python's
    csv module rejects."""
    import csv as csvmod
    import io

    records = []
    reader = csvmod.reader(
        io.StringIO(text, newline=""), delimiter=delimiter, quotechar=quote
    )
    try:
        for record in reader:
            records.append(record)
    except csvmod.Error:
        pass
    return records
