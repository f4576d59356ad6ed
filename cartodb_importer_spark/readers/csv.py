"""CSV reader (O8 + §2.2): spark.read.csv with the reference's sniffing and
type-inference semantics instead of Spark's inferSchema (whose rules differ
— Spark infers dates/timestamps; the reference's lattice never does).

Scale: the sniffers read a bounded head sample on the driver and the data
scan is distributed. ``infer=True`` types the columns exactly with one
extra pass over the data (a single map-side-combined max). With
``infer=False`` the frame stays string-typed and ``meta["head_types"]``
holds the lattice of the 64 KiB head's records, typed on the driver with
no Spark job: ``Importer.run`` casts to that guess and checks it inside
the publish write.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .. import naming
from ..infer import (
    apply_inferred_types,
    infer_column_types,
    sniff_delimiter,
    sniff_encoding,
    sniff_quote,
)


def _self_cleaning_tmpdir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit. Staged copies
    must outlive the LAZY Spark read that points at them, so the earliest
    safe deletion is process end — but without registration every
    re-encoded/BOM-stripped copy stayed in /tmp forever."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str | None = None,
    encoding: str | None = None,
    quote: str | None = None,
    sanitize: bool = True,
    infer: bool = True,
    workdir: str | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (typed DataFrame, metadata). Column names are sanitized per
    O10 (blank headers -> unknow_name_<n>, reserved escapes). ``workdir``
    is where any staged rewrite (BOM-stripped copy for headerless
    utf-8-sig files) lands, so the importer's normal workdir cleanup
    removes it; without one, a self-deleting temp dir is used."""
    import csv as csvmod
    import io

    from pyspark.sql import types as st

    encoding = encoding or sniff_encoding(path)
    source_encoding = encoding

    # Spark's CSV charset option accepts ONLY {iso-8859-1, us-ascii,
    # utf-16, utf-16be, utf-16le, utf-32, utf-8}. Python/chardet names
    # outside that list (latin-1 spelling differences aside: windows-1252,
    # MacRoman, Shift_JIS, ...) would raise INVALID_PARAMETER_VALUE at
    # scan time — the reference solves this by iconv-ing the whole file to
    # UTF-8 (csv_normalizer.py), and we do the same with a streamed
    # staged copy. The copy also normalizes lone-CR (classic-Mac) line
    # endings, which Spark's line reader does not split (the reference's
    # estaciones.csv pending spec) — Python's universal-newline decoder
    # handles them for free. Import-file edge path only: bounded driver
    # IO, constant memory, lands in workdir so normal cleanup removes it.
    aliases = {
        "latin-1": "iso-8859-1",
        "latin1": "iso-8859-1",
        "l1": "iso-8859-1",
        "ascii": "us-ascii",
        "utf8": "utf-8",
    }
    spark_charsets = {
        "iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le",
        "utf-32", "utf-8",
    }
    norm = aliases.get(
        encoding.lower().replace("_", "-"), encoding.lower().replace("_", "-")
    )
    with open(path, "rb") as f:
        head = f.read(1 << 16)
    # classic-Mac detection by COUNTING, not presence: a quoted field with
    # an embedded 0x0A (or any stray LF byte) must not mask a CR-only
    # file, and a CRLF/LF file with a CR inside a quoted field must not
    # trigger staging. Lone-CR terminators strictly outnumbering bare-LF
    # bytes is the signature of a CR-only file.
    crlf = head.count(b"\r\n")
    lone_cr = head.count(b"\r") - crlf
    bare_lf = head.count(b"\n") - crlf
    cr_only = lone_cr > bare_lf
    if (norm not in spark_charsets and encoding != "utf-8-sig") or cr_only:
        if workdir is None:
            workdir = _self_cleaning_tmpdir("cartodb_csv_utf8_")
        target = os.path.join(workdir, os.path.basename(path) + ".utf8.csv")
        with open(path, encoding=encoding, errors="replace") as src, open(
            target, "w", encoding="utf-8", newline="\n"
        ) as dst:
            for line in src:  # universal newlines: \r and \r\n -> \n
                dst.write(line if line.endswith("\n") else line + "\n")
        path = target
        encoding = "utf-8"
        norm = "utf-8"
    elif encoding != "utf-8-sig":
        encoding = norm
    with open(path, encoding=encoding, errors="replace") as f:
        header_line = f.readline().rstrip("\r\n")
        sample_line = f.readline().rstrip("\r\n")
    delimiter = delimiter or sniff_delimiter(header_line)
    quote = quote or sniff_quote(
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
    names = (
        naming.sanitize_columns(raw_names)
        if sanitize
        else [n or f"_c{i}" for i, n in enumerate(raw_names)]
    )
    schema = st.StructType(
        [st.StructField(n, st.StringType(), True) for n in names]
    )
    # 'utf-8-sig' is a Python-only codec name; Spark/Java needs UTF-8.
    # With a header, the BOM lives on the skipped header line (names come
    # from `schema`, parsed driver-side with the sig-aware codec above).
    # HEADERLESS + BOM: line 1 is data, so the BOM would land inside the
    # first cell — stage a BOM-stripped copy for Spark to read instead.
    spark_encoding = "UTF-8" if encoding == "utf-8-sig" else encoding
    if not has_header and encoding == "utf-8-sig":
        with open(path, "rb") as src:
            bom = src.read(3)
            if bom == b"\xef\xbb\xbf":
                # stream-copy (never a whole-file driver read) into the
                # import workdir so normal workdir cleanup removes it
                import shutil

                if workdir is None:
                    workdir = _self_cleaning_tmpdir("cartodb_csv_nobom_")
                target = os.path.join(
                    workdir, os.path.basename(path) + ".nobom.csv"
                )
                with open(target, "wb") as dst:
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
    meta: dict = {
        "delimiter": delimiter,
        "encoding": source_encoding,
        "spark_encoding": spark_encoding,
        "quote": quote,
        "has_header": has_header,
        "multiline": multiline,
        "import_type": ".csv",
    }
    if infer:
        types = infer_column_types(df)
        df = apply_inferred_types(df, types)
        meta["inferred_types"] = types
    else:
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
        # None marks a column with no non-blank head cell: the write checks
        # it, where a varchar guess rests on a text cell already seen
        meta["head_types"] = infer_column_types(head_table, default=None)
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
