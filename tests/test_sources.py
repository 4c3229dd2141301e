import os

from tg_data_connector_spark.sources import (
    ColumnEntry,
    expand_sharded_tables,
    quantile_split_predicates,
    range_split_predicates,
    read_typed_csv,
)


def test_expand_sharded_tables():
    assert expand_sharded_tables("db.tab[0-3]") == [
        "db.tab0",
        "db.tab1",
        "db.tab2",
        "db.tab3",
    ]
    assert expand_sharded_tables("t[08-11]_x") == ["t08_x", "t09_x", "t10_x", "t11_x"]
    assert expand_sharded_tables("plain.table") == ["plain.table"]


def test_range_split_predicates_cover_domain(spark):
    preds = range_split_predicates(0, 100, 4, "id")
    assert len(preds) == 5 and preds[-1] == "id IS NULL"
    # every value in [0,100] satisfies exactly one predicate
    df = spark.range(0, 101).withColumnRenamed("id", "id")
    total = sum(df.where(p).count() for p in preds[:-1])
    assert total == 101


def test_quantile_split_predicates_cover_domain(spark):
    df = spark.range(0, 1000).selectExpr("id * id as id")  # skewed domain
    preds = quantile_split_predicates(df, "id", 4)
    data_preds = [p for p in preds if "NULL" not in p]
    total = sum(df.where(p).count() for p in data_preds)
    assert total == 1000
    # equi-depth: each slice within 2x of ideal
    counts = [df.where(p).count() for p in data_preds]
    assert max(counts) <= 2 * (1000 // len(counts))


def test_read_typed_csv(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("1,alice,true,3.5\n2,bob,false,oops\n3,carol,TRUE,9\n")
    entries = [
        ColumnEntry(type="long", index=0, name="id"),
        ColumnEntry(type="string", index=1, name="name"),
        ColumnEntry(type="boolean", index=2, name="flag"),
        ColumnEntry(type="double", index=3, name="score"),
        ColumnEntry(type="string", value="const!", name="tag"),
    ]
    clean, dirty = read_typed_csv(spark, str(p), entries)
    c = {r["id"]: r for r in clean.collect()}
    assert set(c) == {1, 3}
    assert c[1]["flag"] is True and c[1]["score"] == 3.5 and c[1]["tag"] == "const!"
    assert c[3]["flag"] is True  # 'TRUE' ignoring case
    assert dirty.count() == 1  # 'oops' failed the double cast -> quarantined


def test_read_csv_no_spec_all_strings(spark, tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("1,x\n2,y\n")
    df, dirty = read_typed_csv(spark, str(p), None)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert df.count() == 2 and dirty.count() == 0


def test_read_typed_csv_null_format(spark, tmp_path):
    p = tmp_path / "n.csv"
    p.write_text("1,\\N\n2,val\n")
    entries = [
        ColumnEntry(type="long", index=0, name="id"),
        ColumnEntry(type="string", index=1, name="v"),
    ]
    clean, _ = read_typed_csv(spark, str(p), entries, null_format="\\N")
    vals = {r["id"]: r["v"] for r in clean.collect()}
    assert vals[1] is None and vals[2] == "val"


def test_skip_lines_actually_skips(spark, tmp_path):
    """Spark 4.1's csv `skipRows` option is a silent no-op; the reader must
    skip via a real mechanism (reference `UnstructuredStorageReaderUtil.java:
    239-313`)."""
    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    p = tmp_path / "skippy.csv"
    p.write_text("junk line 1\njunk line 2\n1,a\n2,b\n3,c\n")
    clean, dirty = read_typed_csv(
        spark,
        str(p),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        skip_lines=2,
    )
    rows = sorted((r["id"], r["v"]) for r in clean.collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    assert dirty.count() == 0


def test_skip_lines_with_header(spark, tmp_path):
    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    p = tmp_path / "hs.csv"
    p.write_text("garbage\nid,v\n7,x\n8,y\n")
    clean, _ = read_typed_csv(
        spark, str(p),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        header=True, skip_lines=1,
    )
    assert sorted((r["id"], r["v"]) for r in clean.collect()) == [(7, "x"), (8, "y")]


def test_gzip_csv_reads(spark, tmp_path):
    import gzip

    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    p = tmp_path / "z.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("1,a\n2,b\n")
    clean, _ = read_typed_csv(
        spark, str(p),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        compression="gzip",
    )
    assert sorted((r["id"], r["v"]) for r in clean.collect()) == [(1, "a"), (2, "b")]


def test_gzip_extension_mismatch_rejected(spark, tmp_path):
    import pytest

    from tg_data_connector_spark.sources.files import read_typed_csv

    p = tmp_path / "plain.csv"
    p.write_text("1,a\n")
    with pytest.raises(ValueError, match="lack"):
        read_typed_csv(spark, str(p), None, compression="gzip")


def test_zip_csv_reads(spark, tmp_path):
    import zipfile

    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    p = tmp_path / "a.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("part1.csv", "head\n1,a\n2,b\n")
    clean, _ = read_typed_csv(
        spark, str(p),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        skip_lines=1, compression="zip",
    )
    assert sorted((r["id"], r["v"]) for r in clean.collect()) == [(1, "a"), (2, "b")]


def test_unsupported_codec_rejected(spark, tmp_path):
    import pytest

    from tg_data_connector_spark.sources.files import read_typed_csv

    with pytest.raises(ValueError, match="no available codec"):
        read_typed_csv(spark, str(tmp_path / "x.csv"), None, compression="lzo")


def test_string_pk_radix_split_covers_domain(spark):
    """String-PK predicates must cover the key domain disjointly (reference
    `RangeSplitUtil.java:105-128` radix-128 split)."""
    from pyspark.sql import functions as F

    from tg_data_connector_spark.sources.jdbc import string_range_split_predicates

    keys = [f"user_{i:04d}" for i in range(0, 999, 7)] + ["aaa", "zzz~", "m"]
    df = spark.createDataFrame([(k,) for k in keys], "pk string")
    preds = string_range_split_predicates(min(keys), max(keys), 8, "pk")
    assert len(preds) >= 2  # slices + NULL slice
    total = 0
    for p in preds:
        total += df.where(F.expr(p)).count()
    assert total == len(keys)  # disjoint AND complete
    # quote escaping survives
    preds2 = string_range_split_predicates("a'b", "z'x", 4, "pk")
    for p in preds2:
        df.where(F.expr(p)).count()  # must parse


def test_string_pk_radix_roundtrip():
    from tg_data_connector_spark.sources.jdbc import (
        _radix_int_to_str,
        _str_to_radix_int,
    )

    for s in ["", "a", "abc", "user_0042", "zz~"]:
        L = max(len(s), 1)
        assert _radix_int_to_str(_str_to_radix_int(s, L), L) == s


def test_many_small_files_skip_plans_one_rdd(spark, tmp_path, monkeypatch):
    """Skip-path DAG bound: above _MAX_UNION_FILES the reader must build ONE
    whole-file RDD over all objects (O(1) RDDs at 10^5 objects), never a
    per-file textFile union."""
    import tg_data_connector_spark.sources.files as files_mod
    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    d = tmp_path / "many"
    d.mkdir()
    n_files = 60
    for i in range(n_files):
        (d / f"part{i:04d}.csv").write_text(f"junk header\n{i},v{i}\n")
    calls = {"textFile": 0}
    orig = spark.sparkContext.textFile

    def counting_textfile(*a, **kw):
        calls["textFile"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(spark.sparkContext, "textFile", counting_textfile)
    clean, dirty = read_typed_csv(
        spark, str(d),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        skip_lines=1,
    )
    rows = sorted((r["id"], r["v"]) for r in clean.collect())
    assert rows == [(i, f"v{i}") for i in range(n_files)]
    assert dirty.count() == 0
    assert calls["textFile"] == 0  # batched whole-file path, not per-file RDDs
    assert n_files > files_mod._MAX_UNION_FILES


def test_many_files_gzip_mixed_sizes(spark, tmp_path):
    """The batched whole-file path must decompress by extension per object."""
    import gzip

    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv

    d = tmp_path / "manyz"
    d.mkdir()
    for i in range(40):
        with gzip.open(d / f"g{i:03d}.csv.gz", "wt") as f:
            f.write(f"skipme\n{i},z{i}\n")
    clean, _ = read_typed_csv(
        spark, str(d),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        skip_lines=1, compression="gzip",
    )
    assert sorted((r["id"], r["v"]) for r in clean.collect()) == [
        (i, f"z{i}") for i in range(40)
    ]


def test_hinted_select_renders_hint():
    """HintUtil parity (HintUtil.java:27-66): pattern#expr with @table
    substitution; bare expr matches every table; non-matching pattern or
    broken regex leaves the query untouched."""
    from tg_data_connector_spark.sources.jdbc import hinted_select

    assert (
        hinted_select("sch.orders", ["a", "b"], "ord.*#/*+ parallel(@table 4) */")
        == "SELECT /*+ parallel(orders 4) */ a, b FROM sch.orders"
    )
    assert (
        hinted_select("t", None, "/*+ full(@table) */", where="x > 0")
        == "SELECT /*+ full(t) */ * FROM t WHERE x > 0"
    )
    assert hinted_select("other", ["a"], "ord.*#/*+ p */") == "SELECT a FROM other"
    assert hinted_select("t", ["a"], "[broken#/*+ p */") == "SELECT a FROM t"
    assert hinted_select("t") == "SELECT * FROM t"


# ------------------------------------------------------ snappy codec family
def test_snappy_raw_decode_reference_vectors():
    """Decode a hand-built raw snappy stream exercising every element type:
    literals (short + extended length), 1/2-byte-offset copies, and an
    OVERLAPPING copy (offset < length -> pattern repeat)."""
    from tg_data_connector_spark.sources.snappy_codec import (
        snappy_compress, snappy_decompress,
    )

    # overlapping copy: literal "ab" then copy(offset=2, len=6) -> "abababab"
    stream = bytes([8]) + bytes([1 << 2]) + b"ab" + bytes([(5 << 2) | 2, 2, 0])
    assert snappy_decompress(stream) == b"abababab"
    # 1-byte-offset copy: literal "abcd" then copy(offset=4, len=4)
    stream = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(0 << 2) | 1, 4])
    assert snappy_decompress(stream) == b"abcdabcd"
    # round trip through the encoder, incl. runs it emits as copies
    for payload in (b"", b"x", b"hello world", b"z" * 100, b"q" * 70000):
        assert snappy_decompress(snappy_compress(payload)) == payload


def test_snappy_raw_decode_rejects_corruption():
    import pytest

    from tg_data_connector_spark.sources.snappy_codec import (
        snappy_compress, snappy_decompress,
    )

    with pytest.raises(ValueError, match="corrupt"):
        snappy_decompress(bytes([4, (0 << 2) | 1, 9, 0]))  # copy before start
    good = bytearray(snappy_compress(b"hello"))
    good[0] = 99  # wrong preamble length
    with pytest.raises(ValueError, match="corrupt"):
        snappy_decompress(bytes(good))
    # forged preamble: 6 bytes claiming 4 GiB, rejected before allocating
    with pytest.raises(ValueError, match="corrupt"):
        snappy_decompress(b"\x80\x80\x80\x80\x10\x00")


def test_snappy_preamble_bound_admits_densest_block():
    """The preamble bound (22x the block) sits just above snappy's densest
    valid expansion: 1 MB of zeros (21.3x) round-trips, and the same block
    with a preamble one byte past the bound is rejected."""
    import pytest

    from tg_data_connector_spark.sources.snappy_codec import (
        _MAX_EXPANSION, snappy_compress, snappy_decompress,
    )

    zeros = bytes(1 << 20)
    block = snappy_compress(zeros)
    assert len(zeros) > 21 * len(block)
    assert snappy_decompress(block) == zeros
    forged = _MAX_EXPANSION * len(block) + 1
    head = bytearray()
    while forged >= 0x80:
        head.append((forged & 0x7F) | 0x80)
        forged >>= 7
    head.append(forged)
    assert len(head) == 3  # same varint width as the real 2**20 preamble
    with pytest.raises(ValueError, match="preamble says"):
        snappy_decompress(bytes(head) + block[3:])


def test_framing_snappy_roundtrip_and_crc():
    import pytest

    from tg_data_connector_spark.sources.snappy_codec import (
        framing_snappy_compress, framing_snappy_decompress,
    )

    payload = b"id,v\n" + b"".join(f"{i},row{i}\n".encode() for i in range(500))
    framed = framing_snappy_compress(payload, chunk=256)
    assert framing_snappy_decompress(framed) == payload
    corrupt = bytearray(framed)
    corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError):
        framing_snappy_decompress(bytes(corrupt))
    with pytest.raises(ValueError, match="identifier"):
        framing_snappy_decompress(b"\x00\x04\x00\x00abcd")


def test_hadoop_snappy_roundtrip_multiblock():
    from tg_data_connector_spark.sources.snappy_codec import (
        hadoop_snappy_compress, hadoop_snappy_decompress,
    )

    payload = bytes(range(256)) * 1000
    packed = hadoop_snappy_compress(payload, block=10_000)
    assert hadoop_snappy_decompress(packed) == payload


def test_framing_snappy_csv_reads(spark, tmp_path):
    """The reference codec switch's framing-snappy entry
    (UnstructuredStorageReaderUtil.java:117-213): typed CSV over a
    framing-snappy object, header consumed per file."""
    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv
    from tg_data_connector_spark.sources.snappy_codec import (
        framing_snappy_compress,
    )

    p = tmp_path / "z.csv.sz"
    p.write_bytes(framing_snappy_compress(b"id,v\n1,a\n2,b\n3,c\n"))
    clean, _ = read_typed_csv(
        spark, str(p),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        header=True, compression="framing-snappy",
    )
    assert sorted((r["id"], r["v"]) for r in clean.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_hadoop_snappy_csv_reads_with_skip(spark, tmp_path):
    from tg_data_connector_spark.sources.files import ColumnEntry, read_typed_csv
    from tg_data_connector_spark.sources.snappy_codec import (
        hadoop_snappy_compress,
    )

    d = tmp_path / "objs"
    d.mkdir()
    for i in range(3):
        (d / f"p{i}.csv.snappy").write_bytes(
            hadoop_snappy_compress(
                f"junk\n{i},x{i}\n{i + 10},y{i}\n".encode(), block=8
            )
        )
    clean, _ = read_typed_csv(
        spark, str(d),
        [ColumnEntry(type="long", index=0, name="id"),
         ColumnEntry(type="string", index=1, name="v")],
        skip_lines=1, compression="hadoop-snappy",
    )
    got = sorted((r["id"], r["v"]) for r in clean.collect())
    assert got == [(0, "x0"), (1, "x1"), (2, "x2"),
                   (10, "y0"), (11, "y1"), (12, "y2")]


def test_latin1_whole_file_paths_honour_encoding(spark, tmp_path):
    """The per-file skip path decodes with the reader's ``encoding`` on the
    hadoop-snappy path, on the many-file whole-file path and on few plain
    files; latin-1 bytes that are invalid UTF-8 read back as written."""
    from tg_data_connector_spark.sources.files import (
        _MAX_UNION_FILES, ColumnEntry, read_typed_csv,
    )
    from tg_data_connector_spark.sources.snappy_codec import (
        hadoop_snappy_compress,
    )

    entries = [ColumnEntry(type="long", index=0, name="id"),
               ColumnEntry(type="string", index=1, name="v")]

    def body(i):
        return f"entête\n{i},café{i}\n".encode("latin-1")

    cases = {"snappy": (3, "hadoop-snappy"),
             "many": (_MAX_UNION_FILES + 8, None),
             "few": (2, None)}
    for name, (n, compression) in cases.items():
        d = tmp_path / name
        d.mkdir()
        for i in range(n):
            data = body(i)
            if compression:
                data = hadoop_snappy_compress(data, block=8)
            (d / f"p{i:03d}.csv").write_bytes(data)
        clean, dirty = read_typed_csv(
            spark, str(d), entries, skip_lines=1, encoding="iso-8859-1",
            compression=compression,
        )
        got = sorted((r["id"], r["v"]) for r in clean.collect())
        assert got == [(i, f"café{i}") for i in range(n)], name
        assert dirty.count() == 0


def test_lone_cr_ends_a_line_on_every_path(spark, tmp_path):
    """\\n, \\r and \\r\\n all end a line (Hadoop's LineReader rule) on
    every per-file skip path: the same bytes read the same rows from one
    plain file (textFile), from more than _MAX_UNION_FILES files, from a
    zip member, from hadoop-snappy and with a latin-1 encoding (whole-file
    pass). A lone CR must not fold the next row into a value."""
    import zipfile

    from tg_data_connector_spark.sources.files import _MAX_UNION_FILES
    from tg_data_connector_spark.sources.snappy_codec import (
        hadoop_snappy_compress,
    )

    data = b"hdr\n1,a\r2,b\r\n3,c\n"
    entries = [ColumnEntry(type="long", index=0, name="id"),
               ColumnEntry(type="string", index=1, name="v")]
    cases = {
        "plain": (1, None, "utf-8", data),
        "many": (_MAX_UNION_FILES + 1, None, "utf-8", data),
        "zip": (1, "zip", "utf-8", None),
        "snappy": (1, "hadoop-snappy", "utf-8",
                   hadoop_snappy_compress(data, block=8)),
        "latin1": (1, None, "latin-1", data),
    }
    for name, (n, compression, enc, body) in cases.items():
        d = tmp_path / name
        d.mkdir()
        for i in range(n):
            p = d / f"p{i:03d}.csv"
            if body is None:
                with zipfile.ZipFile(p, "w") as zf:
                    zf.writestr("part.csv", data)
            else:
                p.write_bytes(body)
        clean, dirty = read_typed_csv(
            spark, str(d), entries, skip_lines=1, encoding=enc,
            compression=compression,
        )
        got = sorted((r["id"], r["v"]) for r in clean.collect())
        assert got == sorted([(1, "a"), (2, "b"), (3, "c")] * n), name
        assert dirty.count() == 0, name


def test_python_codec_names_read_without_skip(spark, tmp_path):
    """Python codec names work on the plain (no skip, no header) path:
    latin-1 and ascii map to the names Spark's CSV reader takes; charsets
    its line reader cannot split (utf-16) or does not know (cp1252) decode
    in the whole-file pass; an unknown name fails pre_check."""
    from tg_data_connector_spark.job import pre_check

    entries = [ColumnEntry(type="long", index=0, name="id"),
               ColumnEntry(type="string", index=1, name="v")]
    for enc, text in (("latin-1", "café"), ("ascii", "cafe"),
                      ("utf_16_le", "café"), ("cp1252", "café €")):
        p = tmp_path / f"{enc}.csv"
        p.write_bytes(f"1,{text}\n2,{text}2\n".encode(enc))
        clean, dirty = read_typed_csv(spark, str(p), entries, encoding=enc)
        got = sorted((r["id"], r["v"]) for r in clean.collect())
        assert got == [(1, text), (2, f"{text}2")], enc
        assert dirty.count() == 0
    problems = pre_check(spark, {
        "reader": {"type": "csv", "path": str(p), "encoding": "no-such"},
        "writer": {"type": "console"},
    })
    assert any("unknown encoding 'no-such'" in m for m in problems)


def test_snappy_codec_property_roundtrip():
    """Property: decompress(compress(x)) == x for both containers across
    arbitrary byte payloads and chunk/block sizes (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tg_data_connector_spark.sources.snappy_codec import (
        framing_snappy_compress,
        framing_snappy_decompress,
        hadoop_snappy_compress,
        hadoop_snappy_decompress,
        snappy_compress,
        snappy_decompress,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        data=st.binary(max_size=5000),
        chunk=st.integers(min_value=1, max_value=700),
    )
    def check(data, chunk):
        assert snappy_decompress(snappy_compress(data)) == data
        assert (
            framing_snappy_decompress(
                framing_snappy_compress(data, chunk=chunk)
            )
            == data
        )
        assert (
            hadoop_snappy_decompress(hadoop_snappy_compress(data, block=chunk))
            == data
        )

    check()
