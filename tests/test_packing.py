"""Sequence packing + mixture sampling: semantics and plan-shape.

Packing invariants pinned here (the gate row `seq_packing` pins engine-vs-
DuckDB equality on real data; these pin the contract on adversarial shapes):
  * the concatenation of chunks in chunk_id order equals the concatenation of
    docs in order_col order — nothing lost, nothing reordered;
  * every chunk is exactly `window` long except the stream tail;
  * a doc longer than the window spans chunks with correct slices;
  * drop_last removes only the short tail;
  * streams pack independently per part_col.
"""

import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.operators.packing import pack_sequences, sample_mixture


def _rows(df):
    return [r.asDict() for r in df.orderBy("source", "chunk_id").collect()]


def test_pack_roundtrip_and_tail(spark):
    docs = spark.createDataFrame(
        [
            ("a", 1, [1, 2, 3]),
            ("a", 2, [4, 5, 6, 7]),
            ("a", 3, [8]),
            ("b", 1, [9, 9]),
        ],
        "source string, doc_id int, tokens array<int>",
    )
    got = _rows(pack_sequences(docs, window=5))
    a = [r for r in got if r["source"] == "a"]
    assert [r["tokens"] for r in a] == [[1, 2, 3, 4, 5], [6, 7, 8]]
    assert [r["chunk_id"] for r in a] == [0, 1]
    assert [r["n_docs"] for r in a] == [2, 2]  # doc 2 straddles both chunks
    b = [r for r in got if r["source"] == "b"]
    assert [r["tokens"] for r in b] == [[9, 9]] and b[0]["n_docs"] == 1


def test_pack_doc_longer_than_window(spark):
    docs = spark.createDataFrame(
        [("a", 1, list(range(12))), ("a", 2, [100, 101])],
        "source string, doc_id int, tokens array<int>",
    )
    got = _rows(pack_sequences(docs, window=5))
    assert [r["tokens"] for r in got] == [
        [0, 1, 2, 3, 4], [5, 6, 7, 8, 9], [10, 11, 100, 101],
    ]
    assert [r["n_docs"] for r in got] == [1, 1, 2]


def test_pack_exact_fill_and_drop_last(spark):
    docs = spark.createDataFrame(
        [("a", 1, [1, 2]), ("a", 2, [3, 4]), ("a", 3, [5])],
        "source string, doc_id int, tokens array<int>",
    )
    exact = _rows(pack_sequences(docs, window=5))
    assert len(exact) == 1 and exact[0]["n_tok"] == 5  # no empty tail chunk
    dropped = pack_sequences(docs, window=4, drop_last=True)
    got = _rows(dropped)
    assert [r["tokens"] for r in got] == [[1, 2, 3, 4]]  # tail [5] dropped


def test_pack_empty_docs_skipped(spark):
    docs = spark.createDataFrame(
        [("a", 1, []), ("a", 2, [7, 8, 9])],
        "source string, doc_id int, tokens array<int>",
    )
    got = _rows(pack_sequences(docs, window=2))
    assert [r["tokens"] for r in got] == [[7, 8], [9]]


def test_pack_plan_no_python(spark):
    """Expression-only: no Python eval nodes; the only wide exchange after the
    window is the (part, chunk) hash aggregate."""
    docs = spark.createDataFrame(
        [("a", 1, [1, 2, 3])], "source string, doc_id int, tokens array<int>"
    )
    plan = pack_sequences(docs, window=2)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_mixture_sample_deterministic_and_weighted(spark):
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    out = sample_mixture(df, {"s0": 0.5, "s1": 0.0}, default_weight=0.0)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "s1" not in counts
    assert abs(counts["s0"] - 5000) < 300  # ~50% of 10k, hash-uniform
    again = sample_mixture(df, {"s0": 0.5, "s1": 0.0}, default_weight=0.0)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0


# ----------------------------------------------------- greedy no-split bins
def _pack_bins_rows(spark, rows, window, **kw):
    from tg_data_connector_spark.operators.packing import pack_bins

    df = spark.createDataFrame(rows, "source string, doc_id int, n_tok int")
    return sorted(tuple(r) for r in pack_bins(df, window=window, **kw).collect())


def test_pack_bins_matches_naive_reference(spark):
    import random

    rng = random.Random(3)
    rows = [
        (src, i, rng.choice([0, 1, 5, 30, 63, 64, 65, 200]))
        for i, src in enumerate(
            rng.choice(["web", "wiki", "code"]) for _ in range(120)
        )
    ]
    got = _pack_bins_rows(spark, rows, 64)
    # independent sequential reference
    exp = []
    by_src = {}
    for s, d, n in sorted(rows):
        by_src.setdefault(s, []).append((d, n))
    for s, docs in by_src.items():
        bin_id, fill, first = 0, 0, True
        for d, n in docs:
            take = min(n, 64)
            if first:
                first, off, fill = False, 0, take
            elif fill + take <= 64:
                off, fill = fill, fill + take
            else:
                bin_id, off, fill = bin_id + 1, 0, take
            exp.append((s, bin_id, d, off, take, n > 64))
    assert got == sorted(exp)


def test_pack_bins_truncates_only_overlength(spark):
    rows = [("a", 1, 100), ("a", 2, 10)]
    got = _pack_bins_rows(spark, rows, 64)
    assert got == [("a", 0, 1, 0, 64, True), ("a", 1, 2, 0, 10, False)]


def test_pack_bins_exact_fill_and_empty_docs(spark):
    rows = [("a", 1, 32), ("a", 2, 32), ("a", 3, 0), ("a", 4, 1)]
    # 32+32 fills exactly; the zero-length doc still fits (adds nothing);
    # the next doc closes the bin
    got = _pack_bins_rows(spark, rows, 64)
    assert got == [
        ("a", 0, 1, 0, 32, False),
        ("a", 0, 2, 32, 32, False),
        ("a", 0, 3, 64, 0, False),
        ("a", 1, 4, 0, 1, False),
    ]


def test_pack_bins_sources_pack_independently(spark):
    rows = [("a", 1, 40), ("b", 2, 40), ("a", 3, 40), ("b", 4, 20)]
    got = _pack_bins_rows(spark, rows, 64)
    assert got == [
        ("a", 0, 1, 0, 40, False),
        ("a", 1, 3, 0, 40, False),
        ("b", 0, 2, 0, 40, False),
        ("b", 0, 4, 40, 20, False),
    ]


def test_pack_bins_order_col_override(spark):
    # pack in REVERSE doc order via a derived order column
    from tg_data_connector_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [("a", 1, 40, 2), ("a", 2, 40, 1)],
        "source string, doc_id int, n_tok int, ord int",
    )
    got = sorted(
        tuple(r) for r in pack_bins(df, window=64, order_col="ord").collect()
    )
    # doc 2 (ord 1) packs first and opens bin 0; doc 1 opens bin 1
    assert got == [("a", 0, 2, 0, 40, False), ("a", 1, 1, 0, 40, False)]


def _check_bins_valid(asg_rows, rows, window):
    """Structural validity of a pack_bins assignment, independent of how
    streams were split: every doc exactly once, take == min(len, window),
    every bin's fill <= window, offsets tile each bin contiguously."""
    lens = {(s, d): n for s, d, n in rows}
    assert sorted((s, d) for s, _, d, _, _, _ in asg_rows) == sorted(lens)
    bins = {}
    for s, b, d, off, take, trunc in asg_rows:
        assert take == min(lens[(s, d)], window)
        assert trunc == (lens[(s, d)] > window)
        bins.setdefault((s, b), []).append((off, take))
    for (s, b), pieces in bins.items():
        pieces.sort()
        fill = 0
        for off, take in pieces:
            assert off == fill, (s, b, pieces)
            fill += take
        assert fill <= window, (s, b, fill)


def test_pack_bins_bounded_streams_parity(spark):
    """max_docs_per_stream bounds one pandas group without changing the
    operator's guarantees: at ANY sub-stream setting the assignment stays a
    valid greedy packing (docs exactly once, bins never overfull, offsets
    contiguous, truncation identical) and bin_ids stay unique per source."""
    import random

    rng = random.Random(7)
    rows = [
        (src, i, rng.choice([0, 1, 5, 30, 63, 64, 65, 200]))
        for i, src in enumerate(
            rng.choice(["web", "wiki", "code"]) for _ in range(240)
        )
    ]
    for max_docs in (None, 50, 7):
        got = _pack_bins_rows(spark, rows, 64, max_docs_per_stream=max_docs)
        _check_bins_valid(got, rows, 64)
    # the bound really splits: group parallelism exceeds the source count
    asg = _pack_bins_rows(spark, rows, 64, max_docs_per_stream=7)
    n_streams_used = len(
        {(s, b % (-(-sum(1 for r in rows if r[0] == s) // 7)))
         for s, b, *_ in asg}
    )
    assert n_streams_used > 3  # > #sources: sub-streams actually packed


def test_pack_bins_bounded_streams_greedy_within_stream(spark):
    """Within one sub-stream the packing is the SAME greedy recurrence: a
    bin closes only because the next doc in that stream does not fit."""
    from tg_data_connector_spark.operators.packing import pack_bins
    from pyspark.sql import functions as F

    rows = [("a", i, 30) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tok int")
    asg = pack_bins(df, window=64, max_docs_per_stream=10)
    k = -(-40 // 10)
    # reconstruct each sub-stream (same hash the operator uses) and replay
    streams = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(k)).alias("s")
        ).collect()
    }
    got = sorted(
        (streams[r["doc_id"]], r["doc_id"], r["bin_id"], r["off"])
        for r in asg.collect()
    )
    by_stream = {}
    for s, d, b, off in got:
        by_stream.setdefault(s, []).append((d, b, off))
    for s, docs in by_stream.items():
        docs.sort()
        fill, local = 0, 0
        for d, b, off in docs:
            if fill + 30 > 64:
                local, fill = local + 1, 0
            assert b == local * k + s and off == fill, (s, d, b, off)
            fill += 30


def test_pack_bins_rejects_bad_bound(spark):
    from tg_data_connector_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [("a", 1, 10)], "source string, doc_id int, n_tok int"
    )
    with pytest.raises(ValueError, match="max_docs_per_stream"):
        pack_bins(df, window=64, max_docs_per_stream=0)


def test_assemble_bins_bounded_streams_round_trip(spark):
    """assemble_bins inherits the bound: every bin's assembled array equals
    the concatenation of its docs' first-take tokens, at any setting."""
    from tg_data_connector_spark.operators.packing import (
        assemble_bins, pack_bins,
    )

    rows = [
        ("a", str(i), list(range(i % 5 + 1)), i % 5 + 1) for i in range(60)
    ] + [("b", "x", list(range(9)), 9)]
    df = spark.createDataFrame(
        rows, "source string, doc_id string, tokens array<int>, n_tok int"
    )
    for max_docs in (None, 8):
        asg = {
            (r["source"], r["doc_id"]): (r["bin_id"], r["off"], r["take"])
            for r in pack_bins(
                df, window=7, max_docs_per_stream=max_docs
            ).collect()
        }
        out = assemble_bins(df, window=7, max_docs_per_stream=max_docs)
        toks = {(s, d): t for s, d, t, _ in rows}
        for r in out.collect():
            docs = sorted(
                (off, d, take)
                for (s, d), (b, off, take) in asg.items()
                if s == r["source"] and b == r["bin_id"]
            )
            exp = [v for off, d, take in docs for v in toks[(r["source"], d)][:take]]
            assert r["tokens"] == exp and r["n_tok"] == len(exp)


def test_pack_bins_part_value_missing_from_counts(spark, tmp_path):
    """A part value the driver-side per-source counts never saw (an upstream
    that changed between pack_bins' count and the pack itself) packs as one
    stream of its own instead of failing on a NULL stream id."""
    import os

    from tg_data_connector_spark.operators.packing import pack_bins

    flag = str(tmp_path / "late")

    def source(doc_id):
        return "late" if doc_id < 3 and os.path.exists(flag) else "a"

    src = F.udf(source, "string").asNondeterministic()
    df = spark.range(12).select(
        src(F.col("id")).alias("source"),
        F.col("id").cast("int").alias("doc_id"),
        F.lit(30).alias("n_tok"),
    )
    asg = pack_bins(df, window=64, max_docs_per_stream=4)  # saw {"a": 12}
    open(flag, "w").close()
    got = sorted(tuple(r) for r in asg.collect())
    rows = [("late" if i < 3 else "a", i, 30) for i in range(12)]
    _check_bins_valid(got, rows, 64)
    late = [(b, d, off) for s, b, d, off, _, _ in got if s == "late"]
    assert late == [(0, 0, 0), (0, 1, 30), (1, 2, 0)]  # one greedy stream


def test_assemble_bins_default_bound_keeps_small_sources_whole(spark):
    """assemble_bins bounds one pandas group by default
    (BINS_MAX_DOCS_PER_STREAM); a source at or below the bound packs as one
    stream, so the output equals an unbounded run, for an empty input too."""
    import inspect

    from tg_data_connector_spark.operators.packing import (
        BINS_MAX_DOCS_PER_STREAM, assemble_bins,
    )

    param = inspect.signature(assemble_bins).parameters["max_docs_per_stream"]
    assert param.default == BINS_MAX_DOCS_PER_STREAM
    schema = "source string, doc_id string, tokens array<int>, n_tok int"
    rows = [
        ("web" if i % 3 else "wiki", f"d{i:02d}", list(range(i % 9 + 1)),
         i % 9 + 1)
        for i in range(30)
    ]
    for data in (rows, []):
        df = spark.createDataFrame(data, schema)
        got = [
            sorted(tuple(r) for r in out.collect())
            for out in (assemble_bins(df, window=16),
                        assemble_bins(df, window=16, max_docs_per_stream=None))
        ]
        assert got[0] == got[1]
    assert len(got[0]) == 0


def test_pack_bins_bounded_null_source(spark):
    """A NULL part value on the bounded path (which assemble_bins takes by
    default) packs as its own stream, split by the bound like any other
    source, instead of failing on the driver's per-source map."""
    from tg_data_connector_spark.operators.packing import pack_bins

    rows = [(None if i % 2 else "a", i, 30) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tok int")
    got = [
        ("<null>" if r[0] is None else r[0], *r[1:])
        for r in pack_bins(df, window=64, max_docs_per_stream=4).collect()
    ]
    _check_bins_valid(got, [("<null>" if s is None else s, d, n)
                            for s, d, n in rows], 64)
    # 10 NULL-source docs, 4 per stream -> k = 3 sub-streams, and bin_id =
    # local_bin * k + sub-stream with sub-stream = pmod(xxhash64(id), k)
    stream = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).alias("s")
        ).collect()
    }
    null_docs = [(d, b) for s, b, d, *_ in got if s == "<null>"]
    assert len(null_docs) == 10
    assert all(b % 3 == stream[d] for d, b in null_docs)
    assert len({stream[d] for d, _ in null_docs}) > 1
