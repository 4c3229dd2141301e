"""Vocab-maintenance operators: remap_vocab (expr vs arrow parity, OOV,
nulls, schema preservation), token_histogram, shard_shuffle determinism.

The expr/arrow kernels are chosen from the input: a dense id space takes
the literal-array expr kernel, one past the dense cap takes Arrow."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tg_data_connector_spark.operators.packing import shard_shuffle
from tg_data_connector_spark.operators.tokens import (
    _remap_arrow,
    chunk_sequences,
    remap_vocab,
    token_contamination_flags,
    token_decontaminate,
    token_histogram,
)


def _docs(spark, rows, elem="int"):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField(
                "tokens",
                T.ArrayType(
                    T.IntegerType() if elem == "int" else T.LongType()
                ),
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)


MAPPING = {1: 101, 2: 202, 3: 303, 7: 707}
# MAPPING plus one id past the dense cap that no test document carries: the
# same answers, computed by the Arrow kernel
MAPPINGS = {"expr": MAPPING, "arrow": {**MAPPING, 70_000: 0}}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _remap(df, kernel, unk_id):
    out = remap_vocab(df, MAPPINGS[kernel], unk_id=unk_id)
    assert ("MapInArrow" in _plan(out)) == (kernel == "arrow")
    return {r["doc_id"]: r["tokens"] for r in out.collect()}


@pytest.mark.parametrize("kernel", ["expr", "arrow"])
def test_remap_basic_and_oov(spark, kernel):
    df = _docs(spark, [(1, [1, 2, 9, 3]), (2, [7, 7, 0])])
    out = _remap(df, kernel, unk_id=-1)
    assert out[1] == [101, 202, -1, 303]
    assert out[2] == [707, 707, -1]


@pytest.mark.parametrize("kernel", ["expr", "arrow"])
def test_remap_nulls_and_empty(spark, kernel):
    df = _docs(spark, [(1, []), (2, None), (3, [2])])
    out = _remap(df, kernel, unk_id=0)
    assert out[1] == []
    assert out[2] is None
    assert out[3] == [202]


def test_remap_strategies_agree_on_wide_vocab(spark):
    mapping = {v: (v * 37) % 5000 for v in range(900) if v % 11 != 0}
    rows = [
        (i, [(i * 13 + j * 7) % 1100 for j in range(20)]) for i in range(200)
    ]
    df = _docs(spark, rows).repartition(4)
    a = remap_vocab(df, mapping, unk_id=0)  # dense: the expr kernel
    b = _remap_arrow(df, mapping, "tokens", 0)
    assert "MapInArrow" not in _plan(a)
    assert a.schema == b.schema == df.schema
    ra = {r["doc_id"]: r["tokens"] for r in a.collect()}
    rb = {r["doc_id"]: r["tokens"] for r in b.collect()}
    assert ra == rb


def test_remap_auto_picks_by_dense_feasibility(spark):
    """Kernel rule from the round-4 A/B: dense literal-array LUT (codegen,
    no Python workers) whenever the id space fits 64k slots; the Arrow
    kernel for id spaces the plan literal can't hold (too wide or sparse
    high ids). Negative ids raise."""
    df = _docs(spark, [(1, [1])])
    small = remap_vocab(df, {1: 2})
    mid = remap_vocab(df, {v: v for v in range(600)})
    assert "ArrowEvalPython" not in _plan(small)
    assert "MapInArrow" not in _plan(small) and "MapInArrow" not in _plan(mid)
    wide = remap_vocab(df, {v: v for v in range(70_000)})
    sparse_high = remap_vocab(df, {10_000_000: 3})
    assert "MapInArrow" in _plan(wide)
    assert "MapInArrow" in _plan(sparse_high)
    with pytest.raises(ValueError, match="non-negative"):
        remap_vocab(df, {-1: 3, 1: 2})


def test_remap_long_elem_type_preserved(spark):
    df = _docs(spark, [(1, [1, 5])], elem="long")
    for mapping in MAPPINGS.values():
        out = remap_vocab(df, mapping, unk_id=9)
        assert out.schema["tokens"].dataType.elementType == T.LongType()
        assert out.collect()[0]["tokens"] == [101, 9]


def test_token_histogram_counts(spark):
    df = _docs(spark, [(1, [5, 5, 6]), (2, [5, 7]), (3, [7, 7, 7])])
    got = {
        r["token"]: (r["n_occurrences"], r["n_docs"])
        for r in token_histogram(df).collect()
    }
    assert got == {5: (3, 2), 6: (1, 1), 7: (4, 2)}
    filtered = token_histogram(df, min_count=3).collect()
    assert sorted(r["token"] for r in filtered) == [5, 7]


def test_chunk_sequences_disjoint_and_tail(spark):
    df = _docs(spark, [(1, list(range(10))), (2, [1, 2]), (3, [])])
    got = {
        (r["doc_id"], r["chunk_id"]): (r["tokens"], r["n_tok"])
        for r in chunk_sequences(df, window=4).collect()
    }
    assert got == {
        (1, 0): ([0, 1, 2, 3], 4),
        (1, 1): ([4, 5, 6, 7], 4),
        (1, 2): ([8, 9], 2),  # short tail kept by default
        (2, 0): ([1, 2], 2),
    }  # empty doc 3 emits nothing


def test_chunk_sequences_overlap_and_drop_last(spark):
    df = _docs(spark, [(1, list(range(9))), (2, [5])])
    got = {
        (r["doc_id"], r["chunk_id"]): r["tokens"]
        for r in chunk_sequences(df, window=4, stride=2, drop_last=True).collect()
    }
    # starts 0,2,4,6,8 -> full windows only at 0,2,4; 6 and 8 are short tails
    assert got == {
        (1, 0): [0, 1, 2, 3],
        (1, 1): [2, 3, 4, 5],
        (1, 2): [4, 5, 6, 7],
    }
    # token conservation with stride == window: every token exactly once
    full = chunk_sequences(df, window=4, stride=4)
    tot = full.agg(F.sum("n_tok")).collect()[0][0]
    assert tot == 10


def test_chunk_sequences_no_shuffle(spark):
    df = _docs(spark, [(1, list(range(10)))])
    plan = (
        chunk_sequences(df, window=4, stride=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # map-only by design


def test_token_decontam_flags_and_drop(spark):
    docs = _docs(
        spark,
        [
            (1, [1, 2, 3, 4, 5]),      # eval doc: self-contaminated
            (2, [9, 1, 2, 3, 8]),      # shares 3-gram (1,2,3) with doc 1
            (3, [1, 2, 4, 3, 5]),      # same ids, no shared 3-gram window
            (4, [1, 2]),               # shorter than n: never flagged
        ],
    )
    ev = docs.where("doc_id = 1")
    flags = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in token_contamination_flags(docs, ev, n=3).collect()
    }
    assert flags[1] == (3, True)   # its own 3 distinct 3-grams
    assert flags[2] == (1, True)
    assert flags[3] == (0, False)
    assert flags[4] == (0, False)
    kept = sorted(
        r["doc_id"] for r in token_decontaminate(docs, ev, n=3).collect()
    )
    assert kept == [3, 4]


def test_shard_shuffle_deterministic_and_dense(spark):
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = shard_shuffle(df, n_shards=4).collect()
    b = shard_shuffle(df, n_shards=4).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)
    assert key(a) == key(b)  # idempotent re-export
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))  # dense 0..n-1 positions
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[0] > 50  # roughly balanced on a uniform key


# ------------------------------------------------- winnowing span dedup


def _span_pairs(spark, rows, k=8, w=4, cap=64):
    from tg_data_connector_spark.operators.tokens import dedup_token_spans

    df = _docs(spark, rows)
    out = dedup_token_spans(df, k=k, w=w, max_fp_docs=cap).orderBy(
        "id_a", "id_b"
    )
    return [(r.id_a, r.id_b, r.shared_fps) for r in out.collect()]


def test_winnow_guarantee_shared_run(spark):
    # docs 1 and 2 share an exact run of exactly k+w-1 = 11 tokens at
    # different offsets; the rest of each stream is disjoint -> the
    # winnowing theorem guarantees >= 1 shared fingerprint.
    run = [9000 + i for i in range(11)]
    rows = [
        (1, [100 + i for i in range(20)] + run),
        (2, run + [300 + i for i in range(20)]),
        (3, [500 + i for i in range(40)]),  # disjoint: pairs with nobody
    ]
    pairs = _span_pairs(spark, rows)
    assert [(a, b) for a, b, _ in pairs] == [(1, 2)]


def test_winnow_disjoint_docs_no_pairs(spark):
    rows = [(i, [i * 1000 + j for j in range(30)]) for i in range(1, 5)]
    assert _span_pairs(spark, rows) == []


def test_winnow_short_doc_semantics(spark):
    # < k tokens: no fingerprints at all. k <= n < k+w-1: single min-gram
    # fingerprint, so two IDENTICAL short docs still pair.
    rows = [
        (1, [7, 7, 7]),            # 3 < k=8 -> nothing
        (2, list(range(9))),       # 2 grams < w -> one fp
        (3, list(range(9))),       # identical -> pairs with 2
    ]
    pairs = _span_pairs(spark, rows)
    assert pairs == [(2, 3, 1)]
    from tg_data_connector_spark.operators.tokens import (
        winnow_token_fingerprints,
    )

    fps = winnow_token_fingerprints(_docs(spark, rows), k=8, w=4)
    per_doc = {
        r.doc_id: r.n
        for r in fps.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert 1 not in per_doc and per_doc[2] == 1


def test_winnow_hot_cap_drops_boilerplate(spark):
    # 5 identical docs with cap=3: every shared fingerprint is hotter than
    # the cap, so candidate generation drops them all -> no pairs. With the
    # default cap they all pair.
    rows = [(i, list(range(50))) for i in range(5)]
    assert _span_pairs(spark, rows, cap=3) == []
    assert len(_span_pairs(spark, rows, cap=64)) == 10  # C(5,2)


def test_winnow_fp_count_symmetry(spark):
    # shared_fps is symmetric evidence: a doc containing ALL of another
    # doc's tokens as a contiguous run shares every one of the shorter
    # doc's fingerprints.
    short = [4000 + i for i in range(15)]
    rows = [
        (1, short),
        (2, [100 + i for i in range(20)] + short + [200 + i for i in range(20)]),
    ]
    from tg_data_connector_spark.operators.tokens import (
        winnow_token_fingerprints,
    )

    fps1 = {
        r.fp
        for r in winnow_token_fingerprints(
            _docs(spark, rows[:1]), k=8, w=4
        ).collect()
    }
    pairs = _span_pairs(spark, rows)
    assert len(pairs) == 1 and pairs[0][2] >= len(fps1)


# ------------------------------------------------------------ unigram NLL
def _nll_rows(df):
    return {
        r["doc_id"]: (
            None if r["nll"] is None else round(r["nll"], 9)
        )
        for r in df.collect()
    }


def _smoothed(counts, alpha=0.5):
    """unigram_logprob's smoothing: (ln p per id, OOV ln p)."""
    import math

    denom = sum(counts.values()) + alpha * (len(counts) + 1)
    logp = {t: math.log((c + alpha) / denom) for t, c in counts.items()}
    return logp, math.log(alpha / denom)


@pytest.mark.parametrize("kernel", ["expr", "arrow"])
def test_unigram_logprob_hand_computed(spark, kernel):
    """The dense vocab takes the expr kernel through the public function;
    an extra vocab id would change the smoothing, so the Arrow kernel is
    called directly on the same hand-computed log-probs."""
    import math

    from tg_data_connector_spark.operators.tokens import (
        _unigram_arrow,
        unigram_logprob,
    )

    # vocab: {1: 3, 2: 1}; total=4, V=2, denom = 4 + 0.5*3 = 5.5
    counts = {1: 3, 2: 1}
    lp1 = math.log(3.5 / 5.5)
    lp2 = math.log(1.5 / 5.5)
    oov = math.log(0.5 / 5.5)
    df = _docs(spark, [(1, [1, 1, 2]), (2, [9]), (3, []), (4, None)])
    if kernel == "expr":
        scored = unigram_logprob(df, counts)
        assert "MapInArrow" not in _plan(scored)
    else:
        scored = _unigram_arrow(df, {1: lp1, 2: lp2}, oov, "tokens", "nll")
    out = _nll_rows(scored)
    assert out[1] == round(-(2 * lp1 + lp2) / 3, 9)
    assert out[2] == round(-oov, 9)  # OOV id scores the smoothing floor
    assert out[3] is None and out[4] is None  # unscorable stays NULL


def test_unigram_logprob_strategies_agree(spark):
    import random

    from tg_data_connector_spark.operators.tokens import (
        _unigram_arrow,
        unigram_logprob,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.randrange(0, 2000) for _ in range(rng.randrange(1, 60))])
        for i in range(200)
    ]
    df = _docs(spark, rows).repartition(8)
    counts = {t: rng.randrange(1, 50) for t in range(0, 2000, 3)}
    a = _nll_rows(unigram_logprob(df, counts))  # dense: the expr kernel
    b = _nll_rows(_unigram_arrow(df, *_smoothed(counts), "tokens", "nll"))
    assert len(counts) > 512  # non-trivial vocab: parity is meaningful
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-9, abs=1e-12)


def test_unigram_logprob_self_scoring_matches_numpy(spark):
    import math

    from tg_data_connector_spark.operators.tokens import unigram_logprob

    rows = [(1, [5, 5, 7]), (2, [7, 8]), (3, [5])]
    df = _docs(spark, rows)
    out = {  # counts=None -> self histogram; unrounded values
        r["doc_id"]: r["nll"] for r in unigram_logprob(df).collect()
    }
    counts = {5: 3, 7: 2, 8: 1}
    denom = 6 + 0.5 * 4
    lp = {t: math.log((c + 0.5) / denom) for t, c in counts.items()}
    exp = {
        1: -(2 * lp[5] + lp[7]) / 3,
        2: -(lp[7] + lp[8]) / 2,
        3: -lp[5],
    }
    for k, v in exp.items():
        assert out[k] == pytest.approx(v, rel=1e-12)


def test_unigram_logprob_is_map_only(spark):
    """The scoring plan must contain no shuffle: no explode/join/groupBy —
    Exchange appears only if the operator secretly aggregates."""
    from tg_data_connector_spark.operators.tokens import unigram_logprob

    df = _docs(spark, [(1, [1, 2]), (2, [3])]).repartition(4)
    out = unigram_logprob(df, {t: 1 for t in range(20_000)})  # arrow path
    plan = _plan(out)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan.replace("Exchange RoundRobin", "", 1)


# ------------------------------------------------------------ bigram NLL
def test_bigram_histogram_counts_and_boundaries(spark):
    from tg_data_connector_spark.operators.tokens import bigram_histogram

    df = _docs(spark, [(1, [1, 2, 1, 2]), (2, [2, 1]), (3, [7]), (4, [])])
    got = {
        (r["prev"], r["token"]): r["n"]
        for r in bigram_histogram(df).collect()
    }
    # pairs never cross documents; singleton/empty docs contribute nothing
    assert got == {(1, 2): 2, (2, 1): 2}
    assert bigram_histogram(df, min_count=3).count() == 0


def test_bigram_logprob_hand_computed(spark):
    import math

    from tg_data_connector_spark.operators.tokens import bigram_logprob

    uni = {1: 3, 2: 2}                 # total 5, V=2, denom = 5 + 0.5*3 = 6.5
    bi = {(1, 2): 2, (2, 1): 1}        # ctx: c(1*)=2, c(2*)=1
    lam = 0.7
    u1, u2 = 3.5 / 6.5, 2.5 / 6.5
    oov = 0.5 / 6.5
    df = _docs(spark, [(1, [1, 2, 1]), (2, [9, 1]), (3, []), (4, None)])
    out = {
        r["doc_id"]: r["nll"]
        for r in bigram_logprob(df, bi, uni, lam=lam).collect()
    }
    # doc 1: ln u1 + ln(lam*2/2 + .3*u2) + ln(lam*1/1 + .3*u1)
    exp1 = -(
        math.log(u1)
        + math.log(lam * (2 / 2) + (1 - lam) * u2)
        + math.log(lam * (1 / 1) + (1 - lam) * u1)
    ) / 3
    # doc 2: first token OOV -> ln oov; (9,1) unseen bigram -> backoff only
    exp2 = -(math.log(oov) + math.log((1 - lam) * u1)) / 2
    assert out[1] == pytest.approx(exp1, rel=1e-12)
    assert out[2] == pytest.approx(exp2, rel=1e-12)
    assert out[3] is None and out[4] is None


def test_bigram_logprob_is_map_only(spark):
    from tg_data_connector_spark.operators.tokens import bigram_logprob

    df = _docs(spark, [(1, [1, 2]), (2, [3])]).repartition(4)
    out = bigram_logprob(
        df, {(i, i + 1): 1 for i in range(600)}, {i: 1 for i in range(600)}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.replace("Exchange RoundRobin", "", 1)


def test_token_topk_per_group_and_ties(spark):
    from tg_data_connector_spark.operators.tokens import token_topk

    df = spark.createDataFrame(
        [
            ("a", [1, 1, 2, 3]),
            ("a", [2, 9]),
            ("b", [5]),
        ],
        "source string, tokens array<int>",
    )
    got = sorted(
        (r["source"], r["rank"], r["token"], r["n"])
        for r in token_topk(df, 2, by="source").collect()
    )
    # group a: 1 and 2 tie at n=2 -> token id breaks the tie
    assert got == [("a", 1, 1, 2), ("a", 2, 2, 2), ("b", 1, 5, 1)]
    overall = sorted(
        (r["rank"], r["token"]) for r in token_topk(df, 1).collect()
    )
    assert overall == [(1, 1)]
    with pytest.raises(ValueError):
        token_topk(df, 0)
