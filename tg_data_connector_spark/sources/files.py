"""File/object-store sources: the gcsreader + unstructured-storage surface.

The reference streams CSV objects one record at a time through
``GcsReader.java:265-315`` and casts cells per a column-entry spec
(``UnstructuredStorageReaderUtil.java:398-470``; entry shape ``ColumnEntry.java``:
{index | value(const), type in {STRING,LONG,BOOLEAN,DOUBLE,DATE}, format}),
with failed casts routed to the dirty collector (``:476-488``) and no-spec reads
emitting all-string records (``:350-360``).

Spark-first: object listing, decompression (gzip/bzip2/...,
``UnstructuredStorageReaderUtil.java:117-213``) and file-level parallelism (one
input split per object — the reference round-robins objects over tasks,
``GcsReader.java:118-149``) are all built into ``spark.read.csv``. What we add is
the reference's *column-entry algebra*: per-index projection, typed casts with
per-column date formats, const columns, and cast-failure quarantine — expressed
as Column ops so every cast is codegen'd and the text scan prunes columns.
"""

from __future__ import annotations

import codecs
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TYPES = {"string", "long", "boolean", "double", "date"}


@dataclass
class ColumnEntry:
    """One output column: either a 0-based source index or a constant value.
    Mirrors ``ColumnEntry.java:1-63`` (index/value/type/format)."""

    type: str = "string"
    index: int | None = None
    value: str | None = None
    format: str | None = None  # for date
    name: str | None = None

    def __post_init__(self):
        if self.type not in _TYPES:
            raise ValueError(f"bad type {self.type!r}")
        if (self.index is None) == (self.value is None):
            raise ValueError("exactly one of index/value required")


def _cast(col, entry: ColumnEntry):
    t = entry.type
    # try_cast, not cast: Spark 4 runs ANSI mode by default, where a failed cast
    # is an error; the reference's contract is failed-cast -> dirty record, so
    # the cast must yield null and the caller quarantines the row.
    if t == "string":
        return col
    if t == "long":
        return col.try_cast("bigint")
    if t == "double":
        return col.try_cast("double")
    if t == "boolean":
        # reference: only 'true'/'false' ignoring case (StringColumn.java:124-140)
        low = F.lower(col)
        return F.when(low == "true", F.lit(True)).when(low == "false", F.lit(False))
    if t == "date":
        fmt = entry.format or "yyyy-MM-dd HH:mm:ss"
        return F.try_to_timestamp(col, F.lit(fmt))
    raise AssertionError(t)


# Codecs Spark's text/csv sources decode transparently by file extension
# (reference codec switch: ``UnstructuredStorageReaderUtil.java:117-213``).
_EXTENSION_CODECS = {"gzip": ".gz", "bzip2": ".bz2", "deflate": ".deflate"}
_UNSUPPORTED_CODECS = {"lzo", "lzo_deflate"}
# snappy containers decode in the whole-file pass: sources/snappy_codec.py
# parses the container, pyarrow's bundled codec decodes the raw blocks
_SNAPPY_CODECS = {"hadoop-snappy", "framing-snappy"}


def _list_files(spark: SparkSession, path: str) -> list[str]:
    """List data files under a path through the Hadoop FS API — works for any
    scheme the session supports (file://, hdfs://, s3a://, gs://...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    out = []
    if fs.getFileStatus(hpath).isDirectory():
        it = fs.listStatus(hpath)
        for st in it:
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                out.append(st.getPath().toString())
    else:
        out.append(hpath.toString())
    return sorted(out)


# Above this file count the skip path stops building one splittable textFile
# RDD per file (driver-side O(files) plan construction) and switches to ONE
# whole-file RDD over all objects — O(1) RDDs regardless of object count, at
# the cost of each file being read unsplit (the object-store shape the
# reference reads anyway: many small objects, one reader per object).
_MAX_UNION_FILES = 32


def _whole_file_lines(
    sc, files: list[str], skip: int, encoding: str, compression: str | None
):
    """ONE binaryFiles RDD over all objects. Per object, executor-side: its
    byte buffers (the zip members, one snappy container, one gzip/bzip2/
    deflate file picked by extension, or the raw bytes), each decoded with
    ``encoding``, split into lines and stripped of its first `skip` lines.

    Lines end at LF, CR or CRLF — Hadoop's LineReader rule, which the
    textFile path and Spark's CSV reader follow — NOT str.splitlines(),
    which also breaks on VT, FF, NEL, U+2028 etc. and would parse the same
    bytes into a DIFFERENT row set than the textFile path."""

    def buffers(path, data):
        if compression == "zip":
            import io
            import zipfile

            with zipfile.ZipFile(io.BytesIO(data)) as zf:
                return [zf.read(member) for member in zf.namelist()]
        if compression in _SNAPPY_CODECS:
            from . import snappy_codec

            if compression == "framing-snappy":
                return [snappy_codec.framing_snappy_decompress(data)]
            return [snappy_codec.hadoop_snappy_decompress(data)]
        import bz2
        import gzip
        import zlib

        for ext, decompress in (
            (".gz", gzip.decompress),
            (".bz2", bz2.decompress),
            (".deflate", zlib.decompress),
        ):
            if path.endswith(ext):
                return [decompress(data)]
        return [data]

    def lines(pair):
        path, content = pair
        for data in buffers(path, bytes(content)):
            text = data.decode(encoding)
            rows = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")
            if rows[-1] == "":
                rows.pop()  # trailing newline is a terminator, not an empty row
            yield from rows[skip:]

    return sc.binaryFiles(
        ",".join(files), minPartitions=min(len(files), sc.defaultParallelism)
    ).flatMap(lines)


def _lines_skipping(
    spark: SparkSession,
    path: str,
    skip: int,
    compression: str | None,
    encoding: str,
):
    """Per-file line stream with the first `skip` lines of EACH file dropped —
    the reference's skipHeader/line-skip (``UnstructuredStorageReaderUtil.java:
    239-313``) which Spark's CSV reader cannot express (its `skipRows` option
    is a silent no-op on 4.1, verified empirically). This is the one genuinely
    per-partition-imperative corner of the reader, hence the RDD.

    DAG shape: few plain UTF-8 files -> one splittable textFile+zipWithIndex
    per file (large files parallelize across their blocks); everything else
    -> ONE whole-file RDD over every object (``_whole_file_lines``), so the
    driver plan stays O(1) RDDs at 10^5 objects instead of O(files) union
    nodes. ZIP archives and snappy containers (no Spark codec reads them
    here) and non-UTF-8 files (``textFile`` always decodes UTF-8) take the
    whole-file pass even for few files. The cost: such a file is read by one
    task, whole, in one Python worker, so a large file no longer splits
    across its blocks (a multi-GB file needs that much worker memory)."""
    sc = spark.sparkContext
    files = _list_files(spark, path)
    utf8 = codecs.lookup(encoding).name == "utf-8"
    if (
        len(files) > _MAX_UNION_FILES or not utf8
        or compression == "zip" or compression in _SNAPPY_CODECS
    ):
        return _whole_file_lines(sc, files, skip, encoding, compression)
    rdds = []
    for f in files:
        rdds.append(
            sc.textFile(f)
            .zipWithIndex()
            .filter(lambda t: t[1] >= skip)
            .map(lambda t: t[0])
        )
    return sc.union(rdds) if len(rdds) > 1 else rdds[0]


# Python's canonical codec name -> the charset name Spark's CSV reader takes.
# Spark 4 also names utf-16(be/le) and utf-32, but its line reader splits on
# the 0x0A byte, which cuts those mid-character (a utf-16 file read rows
# ending in U+FFFD): they, like every other Python codec, decode in the
# whole-file pass of _lines_skipping.
_SPARK_CHARSETS = {
    "ascii": "us-ascii",
    "iso8859-1": "iso-8859-1",
    "utf-8": "utf-8",
}


def _spark_charset(encoding: str) -> str | None:
    """Spark's name for ``encoding``, or None when only Python can decode
    it; an unknown codec name raises ``ValueError`` (a pre_check problem)."""
    try:
        name = codecs.lookup(encoding).name
    except LookupError:
        raise ValueError(f"unknown encoding {encoding!r}") from None
    return _SPARK_CHARSETS.get(name)


def _raw_csv(
    spark: SparkSession,
    path: str,
    header: bool,
    sep: str,
    encoding: str,
    null_format: str | None,
    skip_lines: int,
    compression: str | None,
    n_cols: int | None = None,
) -> tuple[DataFrame, bool]:
    """Raw all-string CSV frame + the effective header flag (False when the
    skip path consumed per-file headers itself)."""
    if compression in _UNSUPPORTED_CODECS:
        raise ValueError(
            f"compression {compression!r} has no available codec; supported: "
            f"auto/gzip/bzip2/deflate (by extension), zip, hadoop-snappy, "
            f"framing-snappy"
        )
    if compression in _EXTENSION_CODECS:
        ext = _EXTENSION_CODECS[compression]
        bad = [f for f in _list_files(spark, path) if not f.endswith(ext)]
        if bad:
            raise ValueError(
                f"compression={compression!r} but files lack {ext!r} (Spark "
                f"decodes by extension): {bad[:3]}"
            )
    charset = _spark_charset(encoding)
    if (
        skip_lines or compression == "zip" or compression in _SNAPPY_CODECS
        or charset is None
    ):
        # per-file skip: a header line (if any) is consumed per file here —
        # the RDD union of many files could not otherwise distinguish each
        # file's own header — so the csv parse itself runs headerless and
        # columns are positional (_c0.. — exactly how index-typed entries
        # address them anyway). The lines arrive decoded.
        eff_skip = skip_lines + (1 if header else 0)
        lines = _lines_skipping(spark, path, eff_skip, compression, encoding)
        reader = spark.read.option("header", False)
        header = False
    else:
        lines = None
        reader = spark.read.option("header", header).option("encoding", charset)
    reader = reader.option("sep", sep).option("mode", "PERMISSIVE")
    if null_format is not None:
        reader = reader.option("nullValue", null_format)
    if n_cols is not None and not header:
        # explicit all-string schema: without one, the csv source runs a
        # first-row probe JOB just to learn the column count — with
        # index-typed entries the needed width is already known
        reader = reader.schema(
            ", ".join(f"_c{i} string" for i in range(n_cols))
        )
    df = reader.csv(lines) if lines is not None else reader.csv(path)
    return df, header


def read_typed_csv_flagged(
    spark: SparkSession,
    path: str,
    entries: list[ColumnEntry] | None,
    header: bool = False,
    sep: str = ",",
    encoding: str = "utf-8",
    null_format: str | None = None,
    skip_lines: int = 0,
    compression: str | None = None,
) -> DataFrame:
    """Typed rows + a ``_dirty`` boolean column in ONE frame. The job runner
    observes (count, sum(_dirty)) on it so read/dirty/written stats all fall
    out of the single write action — no count-before-write re-execution of the
    plan (the reference reads stats from in-flight counters,
    ``CommunicationTool.java:15-111``, never extra passes)."""
    n_cols = None
    if entries is not None and not header:
        idx = [e.index for e in entries if e.index is not None]
        n_cols = (max(idx) + 1) if idx else None
    df, eff_header = _raw_csv(
        spark, path, header, sep, encoding, null_format, skip_lines,
        compression, n_cols=n_cols,
    )
    if entries is None:
        return df.withColumn("_dirty", F.lit(False))
    return _typed_flagged(df, entries, eff_header)


def read_typed_csv(
    spark: SparkSession,
    path: str,
    entries: list[ColumnEntry] | None,
    header: bool = False,
    sep: str = ",",
    encoding: str = "utf-8",
    null_format: str | None = None,
    skip_lines: int = 0,
    compression: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean, dirty): typed rows and rows where any non-const cast
    failed on a non-null cell (the reference's per-record convert-error ->
    dirty-record policy). With ``entries=None`` all columns pass through as
    strings (``UnstructuredStorageReaderUtil.java:350-360``).

    ``compression``: None/"auto" = extension-based auto-detect (gzip/bzip2/
    deflate decode transparently); "zip" = archive members decompressed in a
    per-file pass; "hadoop-snappy"/"framing-snappy" = container formats
    parsed per object by sources/snappy_codec.py, raw blocks decoded by
    pyarrow's bundled snappy; lzo variants are REJECTED
    explicitly (no codec in this environment) rather than silently ignored.

    ``encoding`` takes any Python codec name. ``skip_lines``/``header``
    with a non-UTF-8 ``encoding``, and any encoding other than UTF-8,
    ISO-8859-1 (latin-1) or ASCII, read each file whole in one task (see
    ``_lines_skipping``): correct decoding, but a large file is not split
    across its blocks, and a header is consumed per file, so columns are
    positional (``_c0``..)."""
    flagged = read_typed_csv_flagged(
        spark, path, entries, header=header, sep=sep, encoding=encoding,
        null_format=null_format, skip_lines=skip_lines, compression=compression,
    )
    clean = flagged.where(~F.col("_dirty")).drop("_dirty")
    dirty = flagged.where(F.col("_dirty")).drop("_dirty")
    return clean, dirty


def _typed_flagged(df: DataFrame, entries, header: bool) -> DataFrame:
    raw_cols = df.columns
    out, bad_preds = [], []
    for i, e in enumerate(entries):
        name = e.name or f"c{i}"
        if e.value is not None:
            out.append(_cast(F.lit(e.value), e).alias(name))  # const column (F.lit)
            continue
        src_name = raw_cols[e.index] if header else f"_c{e.index}"
        src = F.col(src_name)
        casted = _cast(src, e)
        out.append(casted.alias(name))
        if e.type != "string":
            bad_preds.append(src.isNotNull() & casted.isNull())
    if not bad_preds:
        return df.select(*out, F.lit(False).alias("_dirty"))
    any_bad = bad_preds[0]
    for p in bad_preds[1:]:
        any_bad = any_bad | p
    return df.select(*out, F.coalesce(any_bad, F.lit(False)).alias("_dirty"))
