"""Extension operator tests: dedup, similarity, text, multimodal, as-of."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from atlas_upscaling_dask_spark.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# ---------------------------------------------------------------- dedup


def test_exact_dedup_counts(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd")], "doc_id long, text string"
    )
    rows = {r["text"]: r for r in exact_dedup(df).collect()}
    assert rows["aa bb"]["keep_id"] == 1 and rows["aa bb"]["n_copies"] == 2
    assert rows["cc dd"]["n_copies"] == 1


def test_mixture_resample_quotas_and_determinism(spark):
    from atlas_upscaling_dask_spark.extensions.training import mixture_resample

    rows = [(i, f"doc {i}", "en", f"s{i % 4}", 10) for i in range(200)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = mixture_resample(docs, {"s0": 0.5, "s1": 0.25}, total=40)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # s0 quota 20, s1 quota 10; s2/s3 absent from the mix entirely
    assert counts == {"s0": 20, "s1": 10}
    # deterministic: same seed → identical membership
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in mixture_resample(docs, {"s0": 0.5, "s1": 0.25}, total=40).collect()}
    assert ids1 == ids2
    # different seed → same quotas, (almost surely) different members
    ids3 = {r["doc_id"] for r in mixture_resample(docs, {"s0": 0.5, "s1": 0.25}, total=40, seed=7).collect()}
    assert len(ids3) == 30 and ids3 != ids1
    # a source smaller than its quota contributes everything it has
    tiny = mixture_resample(docs.filter(F.col("doc_id") < 8), {"s0": 1.0}, total=1000)
    assert tiny.count() == 2  # doc_ids 0 and 4 are the only s0 rows


def test_funnel_ordering_semantics(spark):
    # step i counts only events strictly AFTER step i-1: a purchase
    # before signup must not complete the funnel
    import datetime as dt

    from atlas_upscaling_dask_spark.operators.funnel import funnel, funnel_counts

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, t(0), "view"), (1, t(1), "signup"), (1, t(2), "purchase"),
        # user 2: purchase BEFORE signup — depth 2 only
        (2, t(0), "view"), (2, t(2), "signup"), (2, t(1), "purchase"),
        # user 3: never viewed — not in the funnel at all
        (3, t(0), "signup"), (3, t(1), "purchase"),
        # user 4: view only
        (4, t(5), "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {r["user_id"]: r["depth"] for r in funnel(ev, ["view", "signup", "purchase"]).collect()}
    assert got == {1: 3, 2: 2, 4: 1}
    counts = {r["step"]: r["n_users"] for r in funnel_counts(ev, ["view", "signup", "purchase"]).collect()}
    assert counts == {1: 3, 2: 2, 3: 1}


def test_cohort_retention_triangle(spark):
    import datetime as dt

    from atlas_upscaling_dask_spark.operators.funnel import cohort_retention

    d = lambda day, h=0: dt.datetime(2024, 1, day, h)  # 2024-01-01 is a Monday
    rows = [
        (1, d(1)), (1, d(9)), (1, d(16)),   # cohort w0, active w0+w1+w2
        (2, d(2)), (2, d(10)),              # cohort w0, active w0+w1
        (3, d(8)),                          # cohort w1, active w1 only
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort"].day, r["periods_since"]): r["n_users"]
        for r in cohort_retention(ev, period="week").collect()
    }
    # cohort of Jan 1 (Monday): 2 users at offset 0, 2 at offset 1, 1 at 2
    assert got == {(1, 0): 2, (1, 1): 2, (1, 2): 1, (8, 0): 1}


def test_corpus_report_rollup(spark):
    from atlas_upscaling_dask_spark.extensions.text import corpus_report

    docs = spark.createDataFrame(
        [
            (1, "the a of and to " * 20),      # en, long enough, low punct
            (2, "der die das und ist"),        # de, short
            (3, "der die das und ist"),        # exact dup of 2
        ],
        "doc_id long, text string",
    )
    rows = {r["lang"]: r for r in corpus_report(docs).collect()}
    assert rows["ALL"]["n_docs"] == 3
    assert rows["ALL"]["n_distinct_texts"] == 2
    assert rows["en"]["n_docs"] == 1 and rows["de"]["n_docs"] == 2
    assert rows["ALL"]["total_tokens"] == sum(
        len(t.split(" ")) for _, t in [(1, "the a of and to " * 20), (2, "der die das und ist"), (3, "der die das und ist")]
    )
    # quality points bounded by 3 per doc
    assert 0 <= rows["ALL"]["quality_points"] <= 9


def test_assemble_packs_invariants(docs):
    from atlas_upscaling_dask_spark.extensions.training import assemble_packs

    out = assemble_packs(docs, budget=64, n_shards=4, seed=1).collect()
    assert out
    total_docs = docs.count()
    assert sum(r["n_docs"] for r in out) == total_docs
    for r in out:
        # the assembled text's whitespace token count equals the claimed
        # pack token total (concat_ws with ' ' preserves token count)
        assert len(r["text"].split(" ")) == r["pack_tokens"]
    # deterministic
    again = assemble_packs(docs, budget=64, n_shards=4, seed=1).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_vocab_topk_and_oov(spark):
    from atlas_upscaling_dask_spark.extensions.text import oov_rate, vocab_topk

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b x"), (3, "y z")],
        "doc_id long, text string",
    )
    vocab = vocab_topk(docs, k=2)
    rows = {r["token"]: (r["n"], r["rank"]) for r in vocab.collect()}
    assert rows == {"a": (4, 1), "b": (3, 2)}
    oov = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert oov[1]["n_oov"] == 1  # 'c'
    assert oov[2]["n_oov"] == 1  # 'x'
    assert oov[3]["n_oov"] == 2 and oov[3]["oov_frac"] == 1.0


def test_prepare_training_set_composition(spark, docs):
    # end-to-end assembly: quality gate, dedup, decontamination, split,
    # pack — deterministic, benchmark docs never leak through, pack
    # offsets are contiguous per shard
    from atlas_upscaling_dask_spark.extensions.pipeline import prepare_training_set

    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = prepare_training_set(docs, benchmark=bench, seed=3).collect()
    bench_ids = {r["doc_id"] for r in bench.collect()}
    assert {r["doc_id"] for r in out}.isdisjoint(bench_ids)
    # per-shard offsets: sorted by shuffle_pos, start_offset is the
    # running sum of preceding n_tokens
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["shuffle_pos"])
        acc = 0
        for r in rows:
            assert r["start_offset"] == acc
            assert r["pack_id"] == acc // 256
            acc += r["n_tokens"]
    # deterministic
    again = prepare_training_set(docs, benchmark=bench, seed=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # mixture branch composes too
    mixed = prepare_training_set(
        docs,
        mixture_weights={"src0": 0.6, "src1": 0.4},
        mixture_total=10,
        seed=3,
    )
    srcs = {r["source"] for r in mixed.collect()}
    assert srcs <= {"src0", "src1"}


def test_mixture_upsample_epochs(spark):
    from atlas_upscaling_dask_spark.extensions.training import mixture_upsample

    rows = [(i, f"doc {i}", "en", f"s{i % 2}", 10) for i in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = mixture_upsample(docs, {"s0": 2.5, "s1": 1.0})
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # s1: exactly 1 epoch each; s0: between 2x and 3x, ~2.5x in expectation
    assert counts["s1"] == 50
    assert 100 <= counts["s0"] <= 150
    # every key appears with contiguous epochs 1..k
    eps = {}
    for r in out.filter(F.col("source") == "s0").collect():
        eps.setdefault(r["doc_id"], []).append(r["epoch"])
    for k, es in eps.items():
        assert sorted(es) == list(range(1, len(es) + 1))
    # deterministic across invocations
    a = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["epoch"])
        for r in mixture_upsample(docs, {"s0": 2.5, "s1": 1.0}).collect()
    )
    assert a == b


def test_model_quality_score_consistency(docs):
    # the sigmoid score and the margin-based keep decision must agree,
    # and custom weights must shift the decision boundary
    from atlas_upscaling_dask_spark.extensions.text import model_quality_score

    out = model_quality_score(docs).collect()
    assert out
    for r in out:
        assert r["keep"] == (r["margin"] >= 0.0)
        assert abs(r["score"] - 1.0 / (1.0 + __import__("math").exp(-r["margin"]))) < 1e-12
        assert r["keep"] == (r["score"] >= 0.5)
    all_keep = model_quality_score(
        docs, weights={"bias": 1e9}
    ).agg(F.min("keep")).collect()[0][0]
    assert all_keep is True


def test_duplicate_windows_detects_shared_spans(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import duplicate_windows

    shared = "x1 x2 x3 x4 x5 x6 x7 x8"
    docs = spark.createDataFrame(
        [
            (1, f"a b c {shared} d e"),
            (2, f"p q {shared} r s t u"),
            (3, "totally unrelated words here nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    out = duplicate_windows(docs, window=8, stride=1).collect()
    assert out, "the planted 8-token shared span must be detected"
    assert all(r["n_docs"] > 1 for r in out)
    assert {(r["first_doc"], r["last_doc"]) for r in out} == {(1, 2)}
    # stride > span: a coarser stride can miss it on ONE doc's alignment
    # but never reports a false positive
    coarse = duplicate_windows(docs, window=8, stride=16).collect()
    assert all(r["n_docs"] > 1 for r in coarse)


def test_exact_dedup_fingerprint_is_128_bit(spark):
    # Regression for the round-1 verdict: a lone 64-bit group key silently
    # merges distinct documents at 1e12-doc scale (birthday bound).  The
    # group key must be TWO independently-seeded xxhash64 values, and
    # distinct texts must never merge.
    from atlas_upscaling_dask_spark.extensions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "left text"), (2, "right text"), (3, "left text")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)
    rows = {r["text"]: r for r in out.collect()}
    assert len(rows) == 2
    assert rows["left text"]["n_copies"] == 2
    assert rows["right text"]["n_copies"] == 1
    # two xxhash64 grouping expressions in the optimized plan = 128 bits
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("xxhash64") >= 2, plan


def test_minhash_default_is_scale_backend(docs):
    # the DEFAULT backend must be the xxhash64 scale path: no
    # single-partition exchange (the dictionary's dense_rank would add
    # one) and no dense_rank anywhere in the plan.  Oracle rows opt into
    # use_dictionary=True explicitly; the library default must survive
    # 100 TB.
    from atlas_upscaling_dask_spark.extensions.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_wide,
        simhash,
    )

    for df in (
        minhash_lsh_pairs(docs),
        minhash_signatures_wide(docs),
        simhash(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan
        assert "dense_rank" not in plan.lower(), plan


def test_minhash_backends_agree_on_near_dups(docs):
    # the xxhash64 scale backend and the portable dictionary backend must
    # both recover the exact-jaccard near-duplicate pairs
    from atlas_upscaling_dask_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    truth = {(r["d1"], r["d2"]) for r in ngram_jaccard_pairs(docs, 3, 0.5).collect()}
    assert truth, "fixture should contain planted near-duplicates"
    for use_dict in (True, False):
        got = {
            (r["d1"], r["d2"])
            for r in minhash_lsh_pairs(docs, use_dictionary=use_dict).collect()
        }
        missed = truth - got
        assert len(missed) <= len(truth) * 0.2, (
            f"use_dictionary={use_dict}: LSH missed {len(missed)}/{len(truth)}"
        )


_GOLDEN_BASE = "the quick brown fox jumps over the lazy dog by the river bank today"
_GOLDEN_DOCS = [
    (1, _GOLDEN_BASE),
    (2, _GOLDEN_BASE.replace("lazy", "sleepy")),
    (3, _GOLDEN_BASE),
    (4, "a completely different sentence about spark plans and py4j calls"),
    (5, _GOLDEN_BASE.replace("river", "sea").replace("today", "now")),
    (6, "too short"),
    (7, "a completely different sentence about spark plans and python calls"),
]
# xxhash64 backend, 16 hashes, 3-word shingles; doc 6 has no shingle
_GOLDEN_SIGS = {
    1: [276343607, 98348468, 12235251, 112163182, 100159654, 280794662, 336039474, 64637140,
        188231205, 463240856, 273207064, 40723384, 16233404, 91865036, 168612190, 152524695],
    2: [187541571, 98348468, 12235251, 59462302, 125938649, 280794662, 66202981, 64637140,
        188231205, 463240856, 253948654, 40723384, 218546566, 91865036, 168612190, 2709717],
    4: [5579818, 416498456, 266019038, 562552345, 115891254, 253340560, 214262937, 332120043,
        213926536, 330707133, 162506836, 543592442, 30099931, 283003532, 110750735, 348781824],
    5: [276343607, 157192875, 27191597, 112163182, 100159654, 341713361, 336039474, 64637140,
        188231205, 120094218, 273207064, 40723384, 16233404, 91865036, 168612190, 152524695],
    7: [5579818, 416498456, 266019038, 587993255, 115891254, 149663341, 214262937, 332120043,
        213926536, 330707133, 162506836, 543592442, 30099931, 128593476, 110750735, 348781824],
}
_GOLDEN_SIGS[3] = _GOLDEN_SIGS[1]


def test_minhash_golden_signatures_bands_pairs(spark):
    # recorded from the Column-built operators; the SQL-text plans must
    # reproduce signatures, band keys, pairs and est_sim exactly
    from atlas_upscaling_dask_spark.extensions.dedup import (
        _band_rows,
        exact_dedup,
        minhash_lsh_pairs,
        minhash_signatures_wide,
    )

    docs = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    wide = minhash_signatures_wide(docs)
    assert {r["doc_id"]: list(r["sig_arr"]) for r in wide.collect()} == _GOLDEN_SIGS
    bands = {(r["doc_id"], r["band"]): r["bkey"] for r in _band_rows(wide, 16, 8).collect()}
    assert bands == {
        (d, b): ",".join(map(str, sig[2 * b : 2 * b + 2]))
        for d, sig in _GOLDEN_SIGS.items()
        for b in range(8)
    }
    pairs = sorted(tuple(r) for r in minhash_lsh_pairs(docs, min_est_sim=0.3).collect())
    assert pairs == [
        (1, 2, 0.5625), (1, 3, 1.0), (1, 5, 0.75), (2, 3, 0.5625), (3, 5, 0.75), (4, 7, 0.8125)
    ]
    survivors = exact_dedup(docs).selectExpr("keep_id AS doc_id", "text")
    pairs = sorted(tuple(r) for r in minhash_lsh_pairs(survivors, min_est_sim=0.3).collect())
    assert pairs == [(1, 2, 0.5625), (1, 5, 0.75), (4, 7, 0.8125)]


def test_minhash_survivors_build_is_cheap(spark, sf_dir, monkeypatch):
    # building the near-dup query over exact-dedup survivors must start
    # no Spark job (spread_small_input decides from the plan) and stay
    # a few hundred py4j round trips (SQL text, not Column calls)
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    from atlas_upscaling_dask_spark.extensions.dedup import exact_dedup, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    survivors = exact_dedup(docs).selectExpr("keep_id AS doc_id", "text")
    sc = spark.sparkContext
    calls = []
    send = ClientServerConnection.send_command

    building_thread = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        # not the delete commands py4j's finalizer thread sends for
        # freed JavaObjects
        if threading.get_ident() == building_thread:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    sc.setJobGroup("minhash-build", "build only")
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        pairs = minhash_lsh_pairs(survivors)
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("minhash-build") == []
    assert 0 < len(calls) <= 300, f"{len(calls)} py4j round trips to build the query"
    assert "REPARTITION_BY_NUM" in pairs._jdf.queryExecution().executedPlan().toString()


def _spread_of(df):
    """(partitions, key) of a top-level hash repartition, else None."""
    node = df._jdf.queryExecution().logical()
    if node.nodeName() != "RepartitionByExpression":
        return None
    return node.numPartitions(), node.partitionExpressions().head().toString()


def test_spread_small_input_decisions(spark, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import exact_dedup, spread_small_input

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = str(tmp_path / "one_split")
    spark.range(200).selectExpr("id AS doc_id", "CAST(id % 100 AS STRING) AS text").coalesce(
        1
    ).write.parquet(path)
    one = spark.read.parquet(path)
    # no exchange: the scan's split count decides
    assert _spread_of(spread_small_input(one, "doc_id")) == (target, "'doc_id")
    wide = spark.range(0, 200, 1, target)
    assert spread_small_input(wide, "doc_id") is wide
    # exchange: decided from the size estimate, as AQE will coalesce
    # (running the survivors here shows what AQE actually does)
    aqe = "spark.sql.adaptive."
    settings = [
        {},
        {aqe + "coalescePartitions.parallelismFirst": "false"},
        {
            aqe + "coalescePartitions.parallelismFirst": "false",
            aqe + "coalescePartitions.minPartitionSize": "1b",
            aqe + "advisoryPartitionSizeInBytes": "1b",
        },
        {aqe + "coalescePartitions.enabled": "false"},
    ]
    decided = []
    for confs in settings:
        for key, value in confs.items():
            spark.conf.set(key, value)
        try:
            survivors = exact_dedup(one).selectExpr("keep_id AS doc_id", "text")
            spread = _spread_of(spread_small_input(survivors, "doc_id"))
            coalesced = survivors.rdd.getNumPartitions()
        finally:
            for key in confs:
                spark.conf.unset(key)
        assert spread == ((target, "'doc_id") if coalesced < target else None), confs
        decided.append(spread is not None)
    assert decided == [True, True, False, False]


def test_simhash_identical_docs_equal(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import simhash

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz yyy xxx www")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_jaccard_bounds(docs):
    from atlas_upscaling_dask_spark.extensions.dedup import ngram_jaccard_pairs

    rows = ngram_jaccard_pairs(docs, 3, 0.5).collect()
    for r in rows:
        assert 0.5 <= r["jaccard"] <= 1.0
        assert r["d1"] < r["d2"]


# ----------------------------------------------------------- similarity


def test_brute_force_topk_shape(emb):
    from atlas_upscaling_dask_spark.extensions.similarity import brute_force_topk

    out = brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert -1.0001 <= r["cosine"] <= 1.0001
        assert r["neighbor_id"] != r["query_id"]
    assert set(by_q) == {0, 1, 2} and all(len(v) == 4 for v in by_q.values())


def test_ann_lsh_subset_of_bucket(emb):
    # ANN results must come from the query's own bucket and be ranked
    from atlas_upscaling_dask_spark.extensions.similarity import (
        ann_lsh_topk,
        brute_force_topk,
    )

    ann = ann_lsh_topk(emb.filter(F.col("vec_id") < 3), emb, k=4, n_planes=4)
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=50)
    ann_pairs = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # every ANN hit is a genuine neighbor pair (scores identical formula),
    # and with 4 planes recall against exact top-50 should be non-trivial
    assert ann_pairs and ann_pairs <= {(q, n) for q, n in exact_pairs} | ann_pairs


def test_cosine_self_is_one(spark):
    from atlas_upscaling_dask_spark.extensions.similarity import cosine

    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    val = df.select(cosine(F.col("v"), F.col("v")).alias("c")).first()["c"]
    assert val == pytest.approx(1.0)


# ----------------------------------------------------------------- text


def test_text_stats_manual(spark):
    from atlas_upscaling_dask_spark.extensions.text import text_stats

    df = spark.createDataFrame([(1, "the cat, sat!")], "doc_id long, text string")
    r = text_stats(df).first()
    assert r["n_chars"] == 13
    assert r["n_tokens"] == 3  # whitespace split: 'the' 'cat,' 'sat!'
    assert r["n_bpe_tokens"] == 5  # the / cat / , / sat / !
    assert r["n_punct"] == 2
    assert r["n_stopwords"] == 1  # 'the'


def test_lang_id_markers(spark):
    from atlas_upscaling_dask_spark.extensions.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "der hund und die katze ist da"),
            (2, "the cat and the dog of a house to go"),
            (3, "qqq www eee"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out[1] == "de" and out[2] == "en" and out[3] == "und"


def test_fingerprint_order_sensitive(spark):
    from atlas_upscaling_dask_spark.extensions.text import doc_fingerprint

    df = spark.createDataFrame(
        [(1, "aa bbb c"), (2, "c bbb aa"), (3, "aa bbb c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(df).collect()}
    assert out[1] == out[3]
    assert out[1] != out[2]  # permutation changes the fingerprint


def test_quality_score_range(docs):
    from atlas_upscaling_dask_spark.extensions.text import quality_score

    rows = quality_score(docs).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)


# ----------------------------------------------------------- multimodal


def test_payload_digest_roundtrip(docs):
    from atlas_upscaling_dask_spark.extensions.multimodal import (
        media_from_documents,
        payload_digest,
    )

    media = media_from_documents(docs.limit(10))
    d = payload_digest(media).collect()
    assert len(d) == 10
    assert all(len(r["sha256"]) == 64 and r["n_bytes"] > 0 for r in d)


def test_extract_features_plumbing(docs):
    from atlas_upscaling_dask_spark.extensions.multimodal import (
        extract_features,
        media_from_documents,
    )

    media = media_from_documents(docs.limit(8))
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 8
    for r in feats:
        assert len(r["features"]) == 3  # per-channel means
        assert all(0 <= v <= 255 for v in r["features"])


def test_decode_image_formats():
    from atlas_upscaling_dask_spark.extensions.multimodal import decode_image
    from atlas_upscaling_dask_spark.sources.png import encode_png

    # real PNG path (round 3): decodes without any imaging library
    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    got = decode_image(encode_png(src), fake=False)
    assert np.array_equal(got, src)
    # real TIFF path (round 4): first page, gray -> RGB
    import tempfile

    from atlas_upscaling_dask_spark.sources.tiff import write_tiff

    gray = rng.integers(0, 256, size=(6, 4), dtype=np.uint8)
    p = tempfile.mktemp(suffix=".tif")
    write_tiff(p, gray)
    got = decode_image(open(p, "rb").read(), fake=False)
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    # 16-bit TIFF reduces to the high byte, like 16-bit PNG
    g16 = rng.integers(0, 65536, size=(3, 5), dtype=np.uint16)
    p16 = tempfile.mktemp(suffix=".tif")
    write_tiff(p16, g16)
    got16 = decode_image(open(p16, "rb").read(), fake=False)
    assert np.array_equal(got16[:, :, 0], (g16 >> 8).astype(np.uint8))
    # unknown formats are a clear error, not a wrong decode
    with pytest.raises(ValueError, match="unsupported image format"):
        decode_image(b"xx", fake=False)
    # deterministic fake path kept for byte-derived fixtures
    img = decode_image(b"abcdef", fake=True)
    assert img.shape == (8, 8, 3) and img.dtype == np.uint8


def test_extract_features_real_png(spark):
    # End-to-end over REAL PNG payloads: encode per-doc images, ship as
    # binary media rows, decode inside the Arrow-batched kernel.
    from atlas_upscaling_dask_spark.extensions.multimodal import extract_features
    from atlas_upscaling_dask_spark.sources.png import encode_png

    rng = np.random.default_rng(11)
    rows = []
    expect = {}
    for i in range(6):
        img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(encode_png(img)), (8, 8, None, None, "png")))
        expect[i] = img.reshape(-1, 3).mean(axis=0)
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,codec:string>",
    )
    feats = {r["media_id"]: r["features"] for r in extract_features(media, fake=False).collect()}
    assert len(feats) == 6
    for i, exp in expect.items():
        assert np.allclose(feats[i], exp.astype(np.float32), atol=1e-4)


# ---------------------------------------------------------------- as-of


def test_asof_join_matches_pandas(spark):
    import pandas as pd

    from atlas_upscaling_dask_spark.operators.asof import asof_join

    left = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2], "t": [5, 10, 3, 7, 1], "lv": ["a", "b", "c", "d", "e"]}
    )
    right = pd.DataFrame({"k": [1, 1, 2], "rt": [4, 9, 7], "pay": [100, 200, 300]})
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            left_on="k",
            right_on="k",
            left_time="t",
            right_time="rt",
            payload_cols=["pay"],
        )
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    expect = pd.merge_asof(
        left.sort_values("t"),
        right.rename(columns={"rt": "t"}).sort_values("t"),
        on="t",
        by="k",
    ).sort_values(["k", "t"]).reset_index(drop=True)
    assert got["pay"].where(got["pay"].notna(), -1).tolist() == [
        int(v) if pd.notna(v) else -1 for v in expect["pay"]
    ]


def test_asof_inclusive_boundary(spark):
    from atlas_upscaling_dask_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 10, 7)], "k long, rt long, pay long")
    row = asof_join(
        left, right, "k", "k", "t", "rt", payload_cols=["pay"]
    ).first()
    assert row["pay"] == 7  # right time == left time matches (inclusive)


def test_blas_topk_matches_fold_topk(emb):
    # the GEMM partial-top-k scale path must return the same neighbors
    # as the sequential-fold oracle path (scores equal to ~1e-9)
    from atlas_upscaling_dask_spark.extensions.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    q = emb.filter(F.col("vec_id") < 5)
    fold = brute_force_topk(q, emb, k=5).collect()
    blas = brute_force_topk_blas(q, emb, k=5).collect()
    fold_m = {(r["query_id"], r["rk"]): r for r in fold}
    blas_m = {(r["query_id"], r["rk"]): r for r in blas}
    assert set(fold_m) == set(blas_m)
    for key in fold_m:
        assert fold_m[key]["neighbor_id"] == blas_m[key]["neighbor_id"], key
        assert abs(fold_m[key]["cosine"] - blas_m[key]["cosine"]) < 1e-9


def test_blas_topk_ties_keep_smallest_ids(spark):
    # duplicate embeddings split across partitions: every partition must
    # rank ties by id, or the global window never sees the smallest ids
    from atlas_upscaling_dask_spark.extensions.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    e0, e1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    # partition 0 holds ids 5, 4, 0, 6; partition 1 holds 3, 1, 2, 7
    rows = [(5, e0), (4, e0), (0, e0), (6, e1), (3, e0), (1, e0), (2, e0), (7, e1)]
    corpus = spark.sparkContext.parallelize(rows, 2).toDF("vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(100, e0), (0, e0)], "vec_id long, embedding array<double>")
    blas = sorted(tuple(r) for r in brute_force_topk_blas(queries, corpus, k=2).collect())
    # query 0 is itself in the corpus and never its own neighbor
    assert blas == [
        (0, 1, 1.0, 1), (0, 2, 1.0, 2), (100, 0, 1.0, 1), (100, 1, 1.0, 2)
    ]
    assert blas == sorted(tuple(r) for r in brute_force_topk(queries, corpus, k=2).collect())
    every = brute_force_topk_blas(queries, corpus, k=10).filter("query_id = 100").collect()
    assert [r["neighbor_id"] for r in sorted(every, key=lambda r: r["rk"])] == [
        0, 1, 2, 3, 4, 5, 6, 7
    ]


def test_asof_tolerance(spark):
    from atlas_upscaling_dask_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (1, 200)], "k long, t long")
    right = spark.createDataFrame([(1, 95, 7)], "k long, rt long, pay long")
    rows = {
        r["t"]: r["pay"]
        for r in asof_join(
            left, right, "k", "k", "t", "rt", payload_cols=["pay"], tolerance=10
        ).collect()
    }
    assert rows[100] == 7      # 5 ticks old, within tolerance
    assert rows[200] is None   # 105 ticks old, nulled out


def test_ivf_topk_recall(emb):
    # IVF with a generous probe count should recover most exact neighbors
    from atlas_upscaling_dask_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, emb, k=5, n_centroids=8, n_probe=8).collect()
    }
    # n_probe == n_centroids probes every bucket → recall must be total
    assert ivf == exact


def test_ivf_partial_probe_subset(emb):
    from atlas_upscaling_dask_spark.extensions.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(q, emb, k=3, n_centroids=8, n_probe=2).collect()
    assert out, "partial probe should still return neighbors"
    for r in out:
        assert r["neighbor_id"] != r["query_id"]


def test_ivf_persisted_index_matches_inline_and_prunes(emb, spark, tmp_path):
    # the 100 TB shape: build once (bucket-partitioned parquet +
    # centroid sidecar), query with partition-pruned bucket reads —
    # results must equal the inline ivf_topk, and the scan must carry a
    # PartitionFilters clause on bucket (no full-corpus pass)
    from atlas_upscaling_dask_spark.extensions.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )

    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 5)
    inline = {
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in ivf_topk(q, emb, k=5, n_centroids=8, n_probe=3).collect()
    }
    out_df = ivf_index_topk(spark, idx, q, k=5, n_probe=3)
    persisted = {
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in out_df.collect()
    }
    assert persisted == inline
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan


def test_interval_join_bucketed_edges(spark):
    from atlas_upscaling_dask_spark.operators.range_join import interval_join_bucketed

    points = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 29), (4, 30), (5, 45)], "pid long, t long"
    )
    ivals = spark.createDataFrame([(100, 10, 30), (200, 25, 46)], "iid long, s long, e long")
    got = {
        (r["pid"], r["iid"])
        for r in interval_join_bucketed(points, ivals, "t", "s", "e", bucket_width=7).collect()
    }
    # start inclusive, end exclusive; intervals span bucket boundaries
    assert got == {(1, 100), (2, 100), (3, 100), (3, 200), (4, 200), (5, 200)}


def test_interval_join_rejects_bad_width(spark):
    from atlas_upscaling_dask_spark.operators.range_join import interval_join_bucketed

    df = spark.createDataFrame([(1, 1)], "a long, t long")
    with pytest.raises(ValueError):
        interval_join_bucketed(df, df, "t", "t", "t", bucket_width=0)


def test_near_dup_clusters_transitive(spark):
    # pairs (1,2),(2,3) and (5,6): clusters {1,2,3} and {5,6}, 4 alone
    from atlas_upscaling_dask_spark.extensions.dedup import near_dup_clusters

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in near_dup_clusters(docs, pairs).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[4] == (4, True)
    assert out[5] == (5, True) and out[6] == (5, False)


def test_quantize_roundtrip_error_bounded(emb):
    # dequantized values must be within one quantization step of the input
    from atlas_upscaling_dask_spark.extensions.similarity import quantize_embeddings

    q = quantize_embeddings(emb.limit(20))
    rows = q.collect()
    orig = {r["vec_id"]: list(r["embedding"]) for r in emb.limit(20).collect()}
    for r in rows:
        v = orig[r["vec_id"]][r["dim"]]
        deq = r["qval"] * r["scale"]
        assert abs(deq - v) <= r["scale"] + 1e-12
        assert -127 <= r["qval"] <= 127


def test_normalize_text_idempotent(spark):
    from atlas_upscaling_dask_spark.extensions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! x3 "), (2, "already clean text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert out[1] == "hello world x3"
    assert out[2] == "already clean text"
    # idempotence: normalizing the normalized text is a no-op
    df2 = spark.createDataFrame([(1, out[1])], "doc_id long, text string")
    assert normalize_text(df2).first()["norm_text"] == out[1]


def test_shingles_short_docs_no_crash(spark):
    # docs shorter than the shingle width must yield zero shingles, not
    # crash (sequence→slice guard)
    from atlas_upscaling_dask_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x"), (3, "one two three four five")],
        "doc_id long, text string",
    )
    g = word_shingles(df, 3).collect()
    assert {r["doc_id"] for r in g} == {3}
    assert ngram_jaccard_pairs(df, 3, 0.1).count() == 0
    assert minhash_lsh_pairs(df, use_dictionary=False).count() == 0


def test_interval_join_left_outer(spark):
    # outer joins must keep unmatched points (predicate in the join
    # condition, not a post-filter)
    from atlas_upscaling_dask_spark.operators.range_join import interval_join_bucketed

    points = spark.createDataFrame([(1, 10), (2, 99)], "pid long, t long")
    ivals = spark.createDataFrame([(100, 5, 15)], "iid long, s long, e long")
    rows = {r["pid"]: r["iid"] for r in interval_join_bucketed(
        points, ivals, "t", "s", "e", bucket_width=7, how="left"
    ).collect()}
    assert rows == {1: 100, 2: None}


def test_salted_join_rejects_outer(spark):
    from atlas_upscaling_dask_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", "k", how="full")


def test_cc_nonconvergence_raises(spark):
    from atlas_upscaling_dask_spark.operators.components import connected_components

    import pandas as pd

    # a 6-voxel line needs ~5 rounds; max_iters=1 must raise, not lie
    pdf = pd.DataFrame({"z": [0] * 6, "y": [0] * 6, "x": list(range(6)), "label": [1] * 6})
    df = spark.createDataFrame(pdf, "z long, y long, x long, label long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, (1, 1, 6), max_iters=1)


def test_doc_pipeline_canonical_election(spark):
    # one narrow pass + one shuffle; exact-dup docs (same normalized
    # text) share a canonical_id = min member, others keep themselves
    from atlas_upscaling_dask_spark.extensions.pipeline import doc_pipeline

    df = spark.createDataFrame(
        [
            (1, "The quick brown fox!"),
            (2, "the quick  brown fox"),   # normalizes identically to 1
            (3, "and now for something completely different"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in doc_pipeline(df).collect()}
    assert rows[1]["canonical_id"] == 1 and rows[1]["is_canonical"]
    assert rows[2]["canonical_id"] == 1 and not rows[2]["is_canonical"]
    assert rows[3]["canonical_id"] == 3 and rows[3]["is_canonical"]
    assert rows[3]["lang_pred"] == "en"
    assert rows[1]["n_tokens"] == 4


def _video_media(spark):
    from atlas_upscaling_dask_spark.extensions.multimodal import media_from_documents
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "abcdef" * 10), (2, "xy"), (3, "zzzz" * 50)],
        "doc_id long, text string",
    )
    return (
        media_from_documents(docs)
        .withColumn("media_type", F.lit("video"))
        .withColumn("meta", F.col("meta").withField("n_frames", F.lit(25)))
    )


def test_sample_frame_indices_plan(spark):
    from atlas_upscaling_dask_spark.extensions.multimodal import sample_frame_indices

    rows = sample_frame_indices(_video_media(spark), every_n=10).collect()
    got = {(r["media_id"], r["frame_idx"]) for r in rows}
    assert got == {(m, i) for m in (1, 2, 3) for i in (0, 10, 20)}
    with pytest.raises(ValueError):
        sample_frame_indices(_video_media(spark), every_n=0)


def test_extract_frames_plumbing(spark):
    from atlas_upscaling_dask_spark.extensions.multimodal import extract_frames

    out = extract_frames(_video_media(spark), every_n=10, fake=True).collect()
    assert len(out) == 9  # 3 media x 3 sampled frames
    by_key = {(r["media_id"], r["frame_idx"]): r for r in out}
    # deterministic: same media+frame -> same digest on rerun
    again = {(r["media_id"], r["frame_idx"]): r["sha256"]
             for r in extract_frames(_video_media(spark), every_n=10, fake=True).collect()}
    assert all(by_key[k]["sha256"] == again[k] for k in by_key)
    # frame 0 of media 1 is the raw payload itself
    import hashlib
    assert by_key[(2, 0)]["sha256"] == hashlib.sha256(b"xy").hexdigest()


def test_extract_frames_real_multipage_tiff(spark, tmp_path):
    # VERDICT r3 "Next round #7": the REAL multi-frame decode path —
    # multi-page TIFF payloads (pages = frames) decoded by the
    # from-scratch codec; per-frame digests must match a direct numpy
    # decode of the same planes, and non-TIFF payloads must still raise
    # the documented NotImplementedError.
    import hashlib

    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import extract_frames
    from atlas_upscaling_dask_spark.sources.tiff import write_tiff

    rng = np.random.default_rng(3)
    vols, payloads = {}, {}
    for mid, nz in ((1, 7), (2, 3)):
        vol = rng.integers(0, 255, size=(nz, 6, 5), dtype=np.uint8)
        p = str(tmp_path / f"clip{mid}.tif")
        write_tiff(p, vol)
        vols[mid] = vol
        payloads[mid] = open(p, "rb").read()
    media = spark.createDataFrame(
        [
            (mid, "video", payloads[mid], (5, 6, None, None, "tiff"))
            for mid in payloads
        ],
        "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,codec:string>",
    )
    out = extract_frames(media, every_n=3, fake=False).collect()
    got = {(r["media_id"], r["frame_idx"]): r for r in out}
    # media 1: frames 0,3,6; media 2: frame 0
    assert set(got) == {(1, 0), (1, 3), (1, 6), (2, 0)}
    for (mid, idx), r in got.items():
        want = vols[mid][idx].tobytes()
        assert r["n_bytes"] == len(want)
        assert r["sha256"] == hashlib.sha256(want).hexdigest()
    # a non-TIFF payload on the real path raises the documented stub
    bad = spark.createDataFrame(
        [(9, "video", b"\x00\x01notatiff", (None, None, None, 4, "mp4"))],
        media.schema,
    )
    with pytest.raises(Exception, match="media library"):
        extract_frames(bad, every_n=2, fake=False).collect()


def test_resize_images_real_png(spark):
    # REAL resize: PNG payloads decoded, nearest-neighbor sampled,
    # re-encoded — round-trip decode of the output must equal direct
    # numpy nearest-neighbor indexing of the input
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import resize_images
    from atlas_upscaling_dask_spark.sources.png import decode_png, encode_png

    rng = np.random.default_rng(9)
    imgs = {i: rng.integers(0, 256, size=(10 + i, 8, 3), dtype=np.uint8) for i in (1, 2)}
    media = spark.createDataFrame(
        [
            (i, "image", encode_png(img), (8, img.shape[0], None, None, "png"))
            for i, img in imgs.items()
        ],
        "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,codec:string>",
    )
    out = {r["media_id"]: r for r in resize_images(media, 4, 6).collect()}
    for i, img in imgs.items():
        h, w = img.shape[:2]
        yi = (np.arange(6) * h) // 6
        xi = (np.arange(4) * w) // 4
        want = img[yi][:, xi]
        got = decode_png(bytes(out[i]["payload"]))
        assert np.array_equal(got, want)
        assert out[i]["meta"]["width"] == 4 and out[i]["meta"]["height"] == 6
    with pytest.raises(ValueError):
        resize_images(media, 0, 6)


def test_extract_audio_features_real_wav(spark):
    # REAL audio decode via the RIFF/PCM codec: a pure sine at known
    # amplitude has rms = A/sqrt(2) and zcr = 2f/rate (to grid
    # precision); a silent clip has rms = peak = 0
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import (
        extract_audio_features,
    )
    from atlas_upscaling_dask_spark.sources.wav import encode_wav

    rate, freq, amp = 8000, 100, 0.5
    t = np.arange(8000) / rate
    sine = (amp * np.sin(2 * np.pi * freq * t)).astype(np.float32)
    silent = np.zeros(4000, dtype=np.int16)
    media = spark.createDataFrame(
        [
            (1, "audio", encode_wav(sine, rate), (None, None, rate, None, "wav")),
            (2, "audio", encode_wav(silent, rate), (None, None, rate, None, "wav")),
            (3, "image", b"notaudio", (None, None, None, None, "png")),
        ],
        "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,codec:string>",
    )
    out = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert set(out) == {1, 2}  # image row filtered out, never decoded
    s = out[1]
    assert s["sample_rate"] == rate and s["n_channels"] == 1
    assert s["n_frames"] == 8000 and abs(s["duration_s"] - 1.0) < 1e-9
    assert abs(s["rms"] - amp / np.sqrt(2)) < 1e-3
    assert abs(s["peak"] - amp) < 1e-3
    assert abs(s["zero_crossing_rate"] - 2 * freq / rate) < 1e-3
    q = out[2]
    assert q["rms"] == 0.0 and q["peak"] == 0.0
    assert q["duration_s"] == 0.5


def test_label_centroids_fixed_point(spark):
    from atlas_upscaling_dask_spark.extensions.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, -1.0]), (1, [3.0, 0.5]), (2, [0.25, 0.25])],
        "label int, embedding array<float>",
    )
    rows = {(r["label"], r["dim"]): r for r in label_centroids(df).collect()}
    assert rows[(1, 0)]["centroid"] == 2.0 and rows[(1, 0)]["n"] == 2
    assert rows[(1, 1)]["centroid"] == -0.25
    assert rows[(2, 0)]["centroid"] == 0.25
    # order-independence: a repartitioned input gives bitwise-equal sums
    rows2 = {(r["label"], r["dim"]): r["centroid"]
             for r in label_centroids(df.repartition(7)).collect()}
    assert all(rows2[k] == rows[k]["centroid"] for k in rows)


def test_kmeans_centroids_deterministic_and_separating(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import kmeans_centroids

    # two well-separated blobs around orthogonal axes
    rows = []
    rng = np.random.default_rng(11)
    for i in range(40):
        base = np.array([1.0, 0, 0, 0]) if i % 2 == 0 else np.array([0, 0, 0, 1.0])
        v = base + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    c1 = kmeans_centroids(df, n_centroids=2, iters=4)
    c2 = kmeans_centroids(df.repartition(13), n_centroids=2, iters=4)
    # fixed-point sums -> identical centroids under any partitioning
    assert np.array_equal(c1, c2)
    # each blob axis dominated by exactly one centroid
    axis_hit = {int(np.argmax(c1[:, d])) for d in (0, 3)}
    assert len(axis_hit) == 2


def test_ivf_refined_matches_bruteforce_on_blobs(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        base = np.zeros(4); base[i % 3] = 1.0
        rows.append((i, [float(x) for x in base + rng.normal(0, 0.03, 4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 3")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(q, df, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(q, df, k=3, n_centroids=3, n_probe=1, refine_iters=3).collect()}
    # same-blob neighbors live in the probed bucket: high recall
    assert len(exact & approx) / len(exact) >= 0.8


def test_bigram_coherence_gibberish_vs_template(spark):
    from atlas_upscaling_dask_spark.extensions.text import bigram_coherence

    df = spark.createDataFrame(
        [(i, "the same boilerplate sentence here") for i in range(5)]
        + [(99, "zq xv qk jw pf")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["coherence"] for r in bigram_coherence(df).collect()}
    assert rows[0] == 5.0      # bigrams shared by all 5 copies
    assert rows[99] == 1.0     # gibberish bigrams appear only once
    assert all(rows[i] == 5.0 for i in range(5))


def test_rare_terms_ranking(spark):
    from atlas_upscaling_dask_spark.extensions.text import rare_terms

    df = spark.createDataFrame(
        [(1, "common rare1 common common"), (2, "common rare2"), (3, "common")],
        "doc_id long, text string",
    )
    rows = rare_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rk"]): r["tok"] for r in rows}
    # rarest first: doc-unique token at rank 1, 'common' (df=3) after
    assert got[(1, 1)] == "rare1" and got[(1, 2)] == "common"
    assert got[(2, 1)] == "rare2" and got[(2, 2)] == "common"
    assert got[(3, 1)] == "common"


def test_operators_handle_empty_inputs(spark):
    # every family must return empty results, not crash, on empty input
    from atlas_upscaling_dask_spark.extensions.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash,
    )
    from atlas_upscaling_dask_spark.extensions.pipeline import doc_pipeline
    from atlas_upscaling_dask_spark.extensions.similarity import label_centroids
    from atlas_upscaling_dask_spark.extensions.text import bigram_coherence, rare_terms
    from atlas_upscaling_dask_spark.operators.outline import region_adjacency
    from atlas_upscaling_dask_spark.operators.pyramid import downsample_mode

    docs = spark.createDataFrame([], "doc_id long, text string")
    vox = spark.createDataFrame([], "z long, y long, x long, label long")
    emb = spark.createDataFrame([], "label int, embedding array<float>")

    assert exact_dedup(docs).count() == 0
    assert minhash_lsh_pairs(docs, use_dictionary=False).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert simhash(docs, use_dictionary=False).count() == 0
    assert doc_pipeline(docs).count() == 0
    assert bigram_coherence(docs).count() == 0
    assert rare_terms(docs).count() == 0
    assert label_centroids(emb).count() == 0
    assert downsample_mode(vox).count() == 0
    assert region_adjacency(vox).count() == 0


# ---------------------------------------------------------------------------
# training-set assembly (extensions/training.py)
# ---------------------------------------------------------------------------


def test_train_shuffle_is_permutation(spark):
    from atlas_upscaling_dask_spark.extensions.training import train_shuffle

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = train_shuffle(docs, n_shards=4, seed=3).cache()
    assert out.select("shuffle_pos").distinct().count() == 1000  # bijective
    shards = {r["shard"]: r["n"] for r in
              out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(shards) == {0, 1, 2, 3}
    assert max(shards.values()) < 2 * min(shards.values())  # near-uniform
    # different seed → different order
    out2 = train_shuffle(docs, n_shards=4, seed=4)
    joined = out.select("doc_id", "shuffle_pos").join(
        out2.select("doc_id", F.col("shuffle_pos").alias("p2")), "doc_id"
    )
    assert joined.filter(F.col("shuffle_pos") != F.col("p2")).count() > 0
    out.unpersist()


def test_pack_sequences_invariants(spark):
    from atlas_upscaling_dask_spark.extensions.training import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (1 + i % 40))) for i in range(300)],
        ["doc_id", "text"],
    )
    out = pack_sequences(docs, budget=64, n_shards=4, seed=0).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["shuffle_pos"])):
        assert r["pack_id"] == r["start_offset"] // 64
        prev = by_shard.get(r["shard"])
        if prev is not None:
            # contiguous: this doc starts where the previous one ended
            assert r["start_offset"] == prev["start_offset"] + prev["n_tokens"]
        by_shard[r["shard"]] = r
    assert sum(r["n_tokens"] for r in out) == sum(1 + i % 40 for i in range(300))


def test_repetition_stats_manual(spark):
    from atlas_upscaling_dask_spark.extensions.training import repetition_stats

    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "w x y z")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[0]["n_words"] == 4 and rows[0]["n_distinct_words"] == 2
    assert rows[0]["dup_word_frac"] == 0.5 and rows[0]["top_word_frac"] == 0.75
    assert rows[1]["dup_word_frac"] == 0.0 and rows[1]["top_word_frac"] == 0.25


def test_contamination_detects_verbatim_overlap(spark):
    from atlas_upscaling_dask_spark.extensions.training import contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (0, "intro text then the quick brown fox jumps over the lazy dog"),
            (1, "completely unrelated words with no overlap at all here"),
            (2, "short doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in contamination(corpus, bench, n=5).collect()}
    assert 0 in rows and rows[0]["n_contaminated"] >= 5
    assert 1 not in rows and 2 not in rows  # clean / too-short docs absent


def test_resample_ffill_grid_and_fill(spark):
    import datetime as dt

    from atlas_upscaling_dask_spark.operators.resample import resample_ffill

    rows = [
        (0, 7, dt.datetime(2024, 1, 1, 0, 30), 10.0),  # 00:30 → covers 01:00
        (1, 7, dt.datetime(2024, 1, 1, 1, 30), 20.0),  # 01:30 dup ts…
        (2, 7, dt.datetime(2024, 1, 1, 1, 30), 30.0),  # …highest id wins
        (3, 7, dt.datetime(2024, 1, 1, 3, 0), 40.0),   # exactly on the hour
        (4, 9, dt.datetime(2024, 1, 1, 5, 0), 1.0),    # single-event user
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = {
        (r["user_id"], r["grid_ts"].hour): r["value"]
        for r in resample_ffill(ev, step="1 hour").collect()
    }
    assert got[(7, 0)] is None          # grid 00:00 precedes first event
    assert got[(7, 1)] == 10.0
    # duplicate-timestamp tiebreak: highest event_id wins
    assert got[(7, 2)] == 30.0
    # event exactly at a grid instant is visible at that instant
    assert got[(7, 3)] == 40.0
    assert got[(9, 5)] == 1.0
    assert len(got) == 5                # 4 grid hours for user 7 + 1 for user 9


# ----------------------------------------------- corpus governance


def test_hash_split_fractions_and_determinism(docs):
    from atlas_upscaling_dask_spark.extensions.training import hash_split

    out = hash_split(docs)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    # 80/10/10 within loose tolerance on 500 docs
    assert 0.6 < counts["train"] / total < 0.95
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0
    # stable across invocations (pure function of the key)
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert a == b


def test_hash_split_rejects_bad_fractions(docs):
    from atlas_upscaling_dask_spark.extensions.training import hash_split

    with pytest.raises(ValueError):
        hash_split(docs, fractions={"train": 0.5, "test": 0.2})


def test_stratified_sample_counts_and_stability(docs):
    from atlas_upscaling_dask_spark.extensions.training import stratified_sample

    out = stratified_sample(docs, "lang", 5)
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(5, avail[lang])
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(docs, "lang", 5).collect())
    assert ids1 == ids2


def test_redact_pii_rules(spark):
    from atlas_upscaling_dask_spark.extensions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@foo.co.uk now"),
            (2, "see https://x.io/p?q=1 soon"),
            (3, "ssn 123-45-6789 acct 123456789"),
            (4, "clean text stays put"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["text"] == "mail me at <EMAIL> now"
    assert rows[2]["text"] == "see <URL> soon"
    assert rows[3]["text"] == "ssn <SSN> acct <NUMBER>"
    assert rows[4]["text"] == "clean text stays put"
    assert not rows[4]["was_redacted"] and rows[1]["was_redacted"]


def test_line_dedup_keeps_first_occurrence(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import line_dedup

    # 2-word lines: doc 1 = [A B, C D]; doc 2 = [C D, E F]; doc 3 = [C D]
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f"), (3, "c d")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(df, words_per_line=2).collect()}
    assert rows[1]["text"] == "a b c d" and rows[1]["n_kept"] == 2
    assert rows[2]["text"] == "e f" and rows[2]["n_kept"] == 1
    assert rows[3]["text"] == "" and rows[3]["n_kept"] == 0
    assert rows[3]["n_lines"] == 1


def test_line_dedup_within_doc(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import line_dedup

    df = spark.createDataFrame([(7, "x y x y x y")], "doc_id long, text string")
    row = line_dedup(df, words_per_line=2).collect()[0]
    assert row["text"] == "x y" and row["n_lines"] == 3 and row["n_kept"] == 1


def test_duplicate_spans_offset_independent(spark):
    """Content-defined segmentation catches a shared span at ANY offset —
    the alignment guarantee fixed-stride windows cannot give (the
    advisor's round-2 finding on duplicate_windows)."""
    import random

    from atlas_upscaling_dask_spark.extensions.dedup import (
        duplicate_spans,
        duplicate_windows,
    )

    rng = random.Random(7)
    span = " ".join(f"s{rng.randrange(10_000)}" for _ in range(60))
    noise = lambda n, tag: " ".join(  # noqa: E731
        f"{tag}{rng.randrange(10_000)}" for _ in range(n)
    )
    # offsets 5 and 6: congruent mod nothing — stride-16 windows miss it
    docs = spark.createDataFrame(
        [
            (1, f"{noise(5, 'a')} {span} {noise(9, 'b')}"),
            (2, f"{noise(6, 'c')} {span} {noise(4, 'd')}"),
            (3, noise(40, "e")),
        ],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, k=4, min_tokens=6).collect()
    assert out, "shared 60-token span must be detected despite offset skew"
    assert {(r["first_doc"], r["last_doc"]) for r in out} == {(1, 2)}
    assert all(r["n_docs"] == 2 for r in out)
    # the fixed-stride variant misses this planting: offsets 5 vs 6 are
    # not congruent mod 16, so no stride-16 window pair can align
    coarse = duplicate_windows(docs, window=16, stride=16).collect()
    assert not coarse, "stride-16 windows cannot align offsets 5 and 6"


def test_duplicate_spans_no_false_positives(spark):
    from atlas_upscaling_dask_spark.extensions.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(50))) for i in range(6)],
        "doc_id long, text string",
    )
    assert duplicate_spans(docs, k=4, min_tokens=6).count() == 0


def test_lm_score_ranks_fluent_above_gibberish(spark):
    """The corpus-trained bigram LM assigns higher mean probability to
    text made of corpus-frequent bigrams than to one-off gibberish."""
    from atlas_upscaling_dask_spark.extensions.text import lm_score

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, common) for i in range(5)]
        + [(10, "zq xv jk wp mn bd")]  # bigrams occur once each
        + [(11, "one")],  # < 2 tokens: no bigram row
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_score(docs).collect()}
    assert 11 not in rows
    assert rows[0]["n_bigrams"] == 5
    assert rows[0]["lm_score"] > rows[10]["lm_score"]
    # all five copies of the boilerplate doc score identically
    assert len({rows[i]["lm_score"] for i in range(5)}) == 1


# ---------------------------------------------------------------- bpe


def _py_bpe(corpus_words, n_merges):
    """Pure-Python reference BPE (Sennrich-style) on a word->freq dict."""
    from collections import Counter

    vocab = {tuple(w) + ("</w>",): f for w, f in corpus_words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # max count, ties broken lexicographically ascending
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = {k: v for k, v in new_vocab.items()}
    return merges, vocab


def test_bpe_train_matches_reference(spark):
    from collections import Counter

    from atlas_upscaling_dask_spark.extensions.bpe import bpe_segment, bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    words = Counter(w for t in texts for w in t.split())
    ref_merges, ref_vocab = _py_bpe(dict(words), 8)
    merges, symframe = bpe_train(docs, n_merges=8)
    assert merges == ref_merges
    got = {r["word"]: tuple(r["syms"]) for r in symframe.collect()}
    ref_by_word = {}
    for syms, _ in ref_vocab.items():
        ref_by_word["".join(syms).replace("</w>", "")] = syms
    assert got == {w: ref_by_word[w] for w in got}
    # inference path reproduces training segmentation on the same words
    seg = bpe_segment(docs, merges)
    for r in seg.collect():
        assert tuple(r["pieces"]) == got[r["word"]]


def test_bpe_greedy_non_overlapping(spark):
    from atlas_upscaling_dask_spark.extensions.bpe import apply_merge, to_symbols

    df = spark.createDataFrame([("aaa", 1)], "word string, freq long")
    out = apply_merge(to_symbols(df), "a", "a").collect()[0]["syms"]
    assert out == ["aa", "a", "</w>"]


def test_bpe_batched_batch1_equals_sequential(spark):
    from atlas_upscaling_dask_spark.extensions.bpe import bpe_train, bpe_train_batched

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seq_merges, seq_syms = bpe_train(docs, n_merges=8)
    bat_merges, bat_syms = bpe_train_batched(docs, n_merges=8, max_batch=1)
    assert bat_merges == seq_merges
    a = {r["word"]: tuple(r["syms"]) for r in seq_syms.collect()}
    b = {r["word"]: tuple(r["syms"]) for r in bat_syms.collect()}
    assert a == b


def test_bpe_apply_merges_batch_equals_sequential_folds(spark):
    # symbol-disjoint batch == the same merges applied one pass at a time
    from atlas_upscaling_dask_spark.extensions.bpe import (
        apply_merge,
        apply_merges_batch,
        to_symbols,
    )

    df = spark.createDataFrame(
        [("abcd", 3), ("dcba", 1), ("aabb", 2), ("cdcd", 5)],
        "word string, freq long",
    )
    syms = to_symbols(df)
    batch = [("a", "b"), ("c", "d")]
    simultaneous = {
        r["word"]: tuple(r["syms"])
        for r in apply_merges_batch(syms, batch).collect()
    }
    seq = syms
    for s1, s2 in batch:
        seq = apply_merge(seq, s1, s2)
    sequential = {r["word"]: tuple(r["syms"]) for r in seq.collect()}
    assert simultaneous == sequential
    assert simultaneous["abcd"] == ("ab", "cd", "</w>")


def test_bpe_segment_fused_equals_per_merge(spark):
    # the order-preserving fusion in bpe_segment must equal strict
    # per-merge sequential application, including a CONFLICTING chain
    # ((a,b) then (ab,c) then (abc,d)) that forces batch flushes
    from atlas_upscaling_dask_spark.extensions.bpe import (
        EOW,
        apply_merge,
        bpe_segment,
    )

    docs = spark.createDataFrame(
        [(1, "abcd abab cdcd dabc"), (2, "abc bcda aabbccdd")],
        "doc_id long, text string",
    )
    merges = [("a", "b"), ("c", "d"), ("ab", "cd"), ("abcd", EOW), ("b", "c")]
    got = {
        (r["doc_id"], r["word"]): tuple(r["pieces"])
        for r in bpe_segment(docs, merges).collect()
    }
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    sym = words.withColumn(
        "syms",
        F.concat(
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ),
            F.array(F.lit(EOW)),
        ),
    )
    for s1, s2 in merges:
        sym = apply_merge(sym, s1, s2)
    want = {
        (r["doc_id"], r["word"]): tuple(r["syms"]) for r in sym.collect()
    }
    assert got == want
    assert got[(1, "abcd")] == ("abcd</w>",)


def test_bpe_batched_production_run_segments_validly(spark, docs):
    # a production-shaped run: 64 merges in batches of 16 over the real
    # documents table — every merge is a pair of then-current symbols,
    # and the final segmentation concatenates back to word + EOW
    from atlas_upscaling_dask_spark.extensions.bpe import EOW, bpe_train_batched

    merges, symframe = bpe_train_batched(docs, n_merges=64, max_batch=16)
    assert len(merges) == 64
    assert len(set(merges)) == 64  # no duplicate merges
    rows = symframe.collect()
    for r in rows[:500]:
        assert "".join(r["syms"]) == r["word"] + EOW


# ------------------------------------------------- time-series analytics


def test_ewma_manual_weights(spark):
    import datetime as dt

    from atlas_upscaling_dask_spark.operators.resample import ewma

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    ev = spark.createDataFrame(
        [(1, t(0), 1, 10.0), (2, t(1), 1, 20.0), (3, t(2), 1, 40.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = {r["event_id"]: r for r in ewma(ev, lookback=8).collect()}
    assert rows[1]["ewma"] == 10.0 and rows[1]["n_terms"] == 1
    # (20*1 + 10*0.5) / 1.5
    assert abs(rows[2]["ewma"] - 25.0 / 1.5) < 1e-9
    # (40*1 + 20*0.5 + 10*0.25) / 1.75 = 52.5/1.75 = 30
    assert abs(rows[3]["ewma"] - 30.0) < 1e-9 and rows[3]["n_terms"] == 3


def test_ewma_lookback_truncates(spark):
    import datetime as dt

    from atlas_upscaling_dask_spark.operators.resample import ewma

    ev = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, i), 7, float(i))
            for i in range(10)
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = {r["event_id"]: r for r in ewma(ev, lookback=3).collect()}
    assert rows[9]["n_terms"] == 3  # only rows 7, 8, 9 contribute


def test_zscore_outliers_flags_planted_spike(spark):
    from atlas_upscaling_dask_spark.operators.resample import zscore_outliers

    rows = [(i, "click", 10.0 + (i % 3)) for i in range(50)]
    rows.append((99, "click", 500.0))
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = zscore_outliers(ev, threshold=3.0).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 3.0


def test_chunk_documents_coverage_and_overlap(spark):
    from atlas_upscaling_dask_spark.extensions.training import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, text), (2, "short doc only")], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(docs, max_tokens=32, overlap=8).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    short = [r for r in out if r["doc_id"] == 2]
    assert len(short) == 1 and short[0]["chunk_text"] == "short doc only"
    long_chunks = [r for r in out if r["doc_id"] == 1]
    # stride 24: chunks at 0,24,48,72,96 — ceil((100-32)/24)+1 = 4? (68+23)//24+1 = 4
    assert [r["start_token"] for r in long_chunks] == [0, 24, 48, 72]
    # every token covered: union of [start, start+n) == [0, 100)
    covered = set()
    for r in long_chunks:
        covered.update(range(r["start_token"], r["start_token"] + r["n_tokens"]))
        assert r["chunk_text"].split(" ") == [
            f"t{i}" for i in range(r["start_token"], r["start_token"] + r["n_tokens"])
        ]
    assert covered == set(range(100))
    # consecutive chunks overlap by 8 (except possibly the tail)
    for a, b in zip(long_chunks, long_chunks[1:]):
        assert a["start_token"] + a["n_tokens"] - b["start_token"] >= 8


def test_prepare_rag_corpus_invariants(docs):
    from atlas_upscaling_dask_spark.extensions.pipeline import prepare_rag_corpus

    out = prepare_rag_corpus(docs, max_tokens=32, overlap=8).collect()
    assert out, "screen must keep a non-trivial corpus"
    for r in out:
        assert len(r["chunk_text"].split(" ")) == r["n_tokens"] <= 32
        assert r["split"] in ("train", "val", "test")
        assert r["start_token"] == r["chunk_id"] * 24
    # per-doc chunk ids are contiguous from 0
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_id"])
    for ids in by_doc.values():
        assert sorted(ids) == list(range(len(ids)))
    # deterministic
    again = prepare_rag_corpus(docs, max_tokens=32, overlap=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_lsh_index_parity_and_incremental_probe(spark, docs, tmp_path):
    # The persisted LSH index must reproduce the inline xxhash-backend
    # pairs exactly, and probing it with a new batch must find the new
    # batch's near-dups WITHOUT re-hashing the corpus.
    from atlas_upscaling_dask_spark.extensions.dedup import (
        build_lsh_index,
        lsh_index_pairs,
        lsh_index_query,
        minhash_lsh_pairs,
    )

    idx = str(tmp_path / "lsh_idx")
    build_lsh_index(docs, idx, num_hashes=16, bands=8)
    inline = minhash_lsh_pairs(docs, 16, 8, 0.5, use_dictionary=False)
    from_index = lsh_index_pairs(spark, idx, min_est_sim=0.5)
    # exceptAll trips a Catalyst attribute-binding bug on this plan
    # shape (division-derived column through dropDuplicates); a sorted
    # row compare asserts the same equality
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, inline.collect())
    )

    # probe with one verbatim copy of a corpus doc + one novel doc
    some = docs.limit(1).collect()[0]
    probe = spark.createDataFrame(
        [(10**6, some["text"]), (10**6 + 1, "entirely novel probe words qq ww ee rr tt yy")],
        "doc_id long, text string",
    )
    hits = lsh_index_query(spark, idx, probe, min_est_sim=0.99).collect()
    assert any(
        r["probe_id"] == 10**6 and r["corpus_id"] == some["doc_id"] and r["est_sim"] == 1.0
        for r in hits
    )
    assert not any(r["probe_id"] == 10**6 + 1 for r in hits)


def test_asof_forward_direction(spark):
    from atlas_upscaling_dask_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 25), (3, 1, 50)], "eid long, k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 20, "a"), (1, 30, "b"), (1, 25, "tie")], "rk long, rt long, v string"
    )
    fwd = {
        r["eid"]: r["v"]
        for r in asof_join(
            left, right, "k", "rk", "t", "rt", ["v"], direction="forward"
        ).collect()
    }
    # earliest right at-or-after: 10→20 ('a'), 25→25 inclusive ('tie'),
    # 50→nothing after
    assert fwd == {1: "a", 2: "tie", 3: None}
    # tolerance bounds rt - t
    tol = {
        r["eid"]: r["v"]
        for r in asof_join(
            left, right, "k", "rk", "t", "rt", ["v"], tolerance=5,
            direction="forward",
        ).collect()
    }
    assert tol == {1: None, 2: "tie", 3: None}  # 20-10=10 > 5


def test_lsh_index_append_equals_rebuild(spark, docs, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import (
        append_to_lsh_index,
        build_lsh_index,
        lsh_index_pairs,
    )

    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "lsh_inc")
    full = str(tmp_path / "lsh_full")
    build_lsh_index(half1, inc, num_hashes=16, bands=8)
    append_to_lsh_index(half2, inc)
    build_lsh_index(docs, full, num_hashes=16, bands=8)
    a = sorted(map(tuple, lsh_index_pairs(spark, inc, 0.5).collect()))
    b = sorted(map(tuple, lsh_index_pairs(spark, full, 0.5).collect()))
    assert a == b and a


def test_persisted_indexes_support_string_ids(spark, tmp_path):
    # CODE-REVIEW r4 finding #2: the schema-explicit index reads must
    # honor the builder's id_col type (a crawl corpus keys on URL
    # strings, not integers) — the sidecars pin it
    from atlas_upscaling_dask_spark.extensions.dedup import (
        build_lsh_index,
        lsh_index_pairs,
        lsh_index_query,
    )
    from atlas_upscaling_dask_spark.extensions.retrieval import (
        bm25_index_topk,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [
            ("u://a", "the quick brown fox jumps over the lazy dog again"),
            ("u://b", "the quick brown fox jumps over the lazy dog again!"),
            ("u://c", "completely different text about distributed query engines"),
        ],
        "doc_id string, text string",
    )
    idx = str(tmp_path / "str_lsh")
    build_lsh_index(docs, idx, num_hashes=16, bands=8)
    pairs = lsh_index_pairs(spark, idx, 0.5).collect()
    assert {(r["d1"], r["d2"]) for r in pairs} == {("u://a", "u://b")}
    probe = spark.createDataFrame(
        [("u://new", "the quick brown fox jumps over the lazy dog")],
        "doc_id string, text string",
    )
    hits = lsh_index_query(spark, idx, probe, 0.5).collect()
    assert {r["corpus_id"] for r in hits} >= {"u://a"}

    tidx = str(tmp_path / "str_txt")
    build_text_index(docs, tidx)
    top = bm25_index_topk(spark, tidx, ["different"], k=2).collect()
    assert top and top[0]["doc_id"] == "u://c"


def test_text_index_append_equals_rebuild(spark, docs, tmp_path):
    # the persisted-index append contract, BM25 edition: build on half,
    # append the rest -> identical scores AND identical corpus stats to
    # a from-scratch build over everything
    from atlas_upscaling_dask_spark.extensions.retrieval import (
        append_to_text_index,
        bm25_index_topk,
        build_text_index,
    )

    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "txt_inc")
    full = str(tmp_path / "txt_full")
    build_text_index(half1, inc)
    append_to_text_index(half2, inc)
    build_text_index(docs, full)
    terms = ["the", "data", "model"]
    a = sorted(map(tuple, bm25_index_topk(spark, inc, terms, k=10).collect()))
    b = sorted(map(tuple, bm25_index_topk(spark, full, terms, k=10).collect()))
    assert a == b and a


def test_ivf_index_append_equals_rebuild(spark, emb, tmp_path):
    # IVF edition: half1 holds the lowest ids, so a rebuild over the
    # union picks the SAME centroid seeds -> append must be bitwise
    # equivalent (assignment is per-vector against frozen centroids)
    from atlas_upscaling_dask_spark.extensions.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    mid = ids[len(ids) // 2]
    half1 = emb.filter(F.col("vec_id") < mid)
    half2 = emb.filter(F.col("vec_id") >= mid)
    inc = str(tmp_path / "ivf_inc")
    full = str(tmp_path / "ivf_full")
    build_ivf_index(half1, inc, n_centroids=8)
    append_to_ivf_index(half2, inc)
    build_ivf_index(emb, full, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in ivf_index_topk(spark, inc, q, k=5, n_probe=3).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in ivf_index_topk(spark, full, q, k=5, n_probe=3).collect()
    )
    assert a == b and a


# ------------------------------------------------------------------ pq


def test_pq_encode_shape_and_determinism(spark, emb):
    from atlas_upscaling_dask_spark.extensions.similarity import (
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(emb, m=4, k_sub=16)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
    codes = pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 4 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    again = pq_encode(emb, books).collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in codes))) == \
        sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in again)))


def test_pq_topk_returns_query_cluster(spark):
    # Coarse codebooks collapse same-cluster vectors to the same codes,
    # so PQ's guarantee at this granularity is CLUSTER recall: every
    # returned neighbor must come from the query's own cluster, and the
    # query's exact-duplicate codes must rank at distance ~0.
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import pq_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.normal(size=64) * 0.3).astype(float).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 8)
    hits = pq_topk(queries, emb, k=10, m=4, k_sub=16).collect()
    assert len(hits) == 80
    wrong = [r for r in hits if r["neighbor_id"] % 8 != r["query_id"] % 8]
    assert not wrong, f"PQ returned out-of-cluster neighbors: {wrong[:3]}"
    # distances are ascending per query and non-negative
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["adist"]))
    for pairs in by_q.values():
        pairs.sort()
        ds = [d for _, d in pairs]
        assert ds == sorted(ds) and all(d >= 0 for d in ds)


def test_pq_encode_backends_identical(spark, emb):
    from atlas_upscaling_dask_spark.extensions.similarity import (
        pq_codebooks,
        pq_encode,
    )

    books = pq_codebooks(emb, m=4, k_sub=16)
    a = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, books, backend="expr").collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, books, backend="numpy").collect()
    )
    assert a == b


# -------------------------------------------------------------- ivf+pq


def test_semantic_dedup_drops_near_duplicates(spark):
    # tight clusters: within each cluster every pair is near-identical
    # (cosine ~1), so exactly the lowest id per cluster survives;
    # orthogonal-ish singletons survive untouched
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import semantic_dedup

    rng = np.random.default_rng(21)
    centers = rng.normal(size=(6, 64)) * 5
    rows = []
    for i in range(120):
        c = i % 6
        rows.append(
            (i, (centers[c] + rng.normal(size=64) * 0.01).astype(float).tolist())
        )
    emb6 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_centroids == n_clusters: seeds 0..5 are one per cluster (more
    # seeds would duplicate a centroid and split its cluster across two
    # buckets — pruning is within-bucket by design)
    out = {r["vec_id"]: r for r in semantic_dedup(emb6, threshold=0.95, n_centroids=6).collect()}
    assert len(out) == 120
    kept = {i for i, r in out.items() if r["is_kept"]}
    # every cluster keeps exactly its lowest member id (0..5)
    assert kept == set(range(6))
    # bucket assignment is cluster-consistent: same cluster -> same bucket
    for i in range(120):
        assert out[i]["bucket"] == out[i % 6]["bucket"]


def test_semantic_dedup_backends_identical(spark, emb):
    from atlas_upscaling_dask_spark.extensions.similarity import semantic_dedup

    a = sorted(map(tuple, semantic_dedup(emb, 0.3, 16).collect()))
    b = sorted(
        map(tuple, semantic_dedup(emb, 0.3, 16, backend="gemm").collect())
    )
    assert a == b and a
    with pytest.raises(ValueError, match="fold|gemm"):
        semantic_dedup(emb, 0.3, 16, backend="nope")


def test_refine_pq_codebooks_reduces_distortion_deterministically(spark):
    # Lloyd-refined books must strictly reduce mean quantization error
    # on clustered data vs the lowest-id seeds, and be bit-identical
    # across runs (fixed-point means -> partitioning-independent)
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import (
        pq_codebooks,
        refine_pq_codebooks,
    )

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(8, 64)) * 5
    rows = [
        (i, (centers[i % 8] + rng.normal(size=64) * 0.3).astype(float).tolist())
        for i in range(400)
    ]
    emb8 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = pq_codebooks(emb8, m=4, k_sub=16)
    refined = refine_pq_codebooks(emb8, seeds, iters=2)
    again = refine_pq_codebooks(emb8, seeds, iters=2)
    assert refined == again  # bitwise deterministic

    x = np.array([r[1] for r in rows])

    def distortion(books):
        bk = np.asarray(books)  # (m, k_sub, dsub)
        total = 0.0
        for j in range(4):
            xs = x[:, j * 16 : (j + 1) * 16]
            d = ((xs[:, None, :] - bk[j][None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total / len(x)

    assert distortion(refined) < distortion(seeds) * 0.9


def test_pq_topk_refined_books_still_cluster_correct(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.similarity import pq_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64)) * 5
    rows = [
        (i, (centers[i % 8] + rng.normal(size=64) * 0.3).astype(float).tolist())
        for i in range(400)
    ]
    emb8 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb8.filter(F.col("vec_id") < 8)
    hits = pq_topk(queries, emb8, k=10, m=4, k_sub=16, refine_iters=1).collect()
    assert len(hits) == 80
    wrong = [r for r in hits if r["neighbor_id"] % 8 != r["query_id"] % 8]
    assert not wrong


def test_pq_topk_kernel_backend_matches_agg(spark, emb):
    # r13: the suite row's default backend is the fused Arrow kernel
    # (single all-covering bucket through _adc_scan_topk); it must be
    # row-identical — ids, adist doubles, ranks — to the relational
    # aggregation dual the SQL oracle replays.
    from atlas_upscaling_dask_spark.extensions.similarity import pq_topk

    q = emb.filter(F.col("vec_id") < 5)
    kern = pq_topk(q, emb, k=7, m=4, k_sub=16, backend="kernel")
    agg = pq_topk(q, emb, k=7, m=4, k_sub=16, backend="agg")
    assert kern.exceptAll(agg).isEmpty()
    assert agg.exceptAll(kern).isEmpty()


def test_ivf_pq_distances_match_pq_on_shared_pairs(spark, emb):
    # IVFADC prunes candidates but must NOT change distances: every
    # (query, neighbor) it returns carries the exact adist pq_topk's
    # pair-aggregation plan computes for that pair (same codebooks,
    # same encode fold, per-term round-9 carried as integer nanos).
    from atlas_upscaling_dask_spark.extensions.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    q = emb.filter(F.col("vec_id") < 5)
    n_corpus = emb.count()
    pq_all = {
        (r["query_id"], r["neighbor_id"]): r["adist"]
        for r in pq_topk(q, emb, k=n_corpus, m=4, k_sub=16).collect()
    }
    got = ivf_pq_topk(q, emb, k=5, n_centroids=8, n_probe=3, m=4, k_sub=16).collect()
    assert got
    for r in got:
        assert r["adist"] == pq_all[(r["query_id"], r["neighbor_id"])]


def test_ivf_pq_returns_query_cluster(spark):
    # same cluster-recall contract as pq_topk: clustered corpus, every
    # returned neighbor comes from the query's own cluster
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64)) * 5
    rows = []
    for i in range(400):
        c = i % 8
        rows.append(
            (i, (centers[c] + rng.normal(size=64) * 0.3).astype(float).tolist())
        )
    emb8 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb8.filter(F.col("vec_id") < 8)
    from atlas_upscaling_dask_spark.extensions.similarity import ivf_pq_topk

    hits = ivf_pq_topk(
        queries, emb8, k=10, n_centroids=16, n_probe=4, m=4, k_sub=16
    ).collect()
    assert hits
    wrong = [r for r in hits if r["neighbor_id"] % 8 != r["query_id"] % 8]
    assert not wrong, f"IVFADC returned out-of-cluster neighbors: {wrong[:3]}"
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["adist"]))
    for pairs in by_q.values():
        pairs.sort()
        ds = [d for _, d in pairs]
        assert ds == sorted(ds) and all(d >= 0 for d in ds)


def test_ivf_pq_index_matches_inline_and_prunes(spark, emb, tmp_path):
    # persisted IVFADC: bucket-partition-pruned scan + sidecar books
    # must reproduce the inline path exactly, and the scan must carry
    # PartitionFilters on bucket (the sublinear-read evidence)
    from atlas_upscaling_dask_spark.extensions.similarity import (
        build_ivf_index,
        ivf_pq_index_topk,
        ivf_pq_topk,
    )

    idx = str(tmp_path / "ivfpq_index")
    build_ivf_index(emb, idx, n_centroids=8, pq=True, pq_m=4, pq_k_sub=16)
    q = emb.filter(F.col("vec_id") < 5)
    inline = sorted(
        (r["query_id"], r["neighbor_id"], r["adist"], r["rk"])
        for r in ivf_pq_topk(
            q, emb, k=5, n_centroids=8, n_probe=3, m=4, k_sub=16
        ).collect()
    )
    out_df = ivf_pq_index_topk(spark, idx, q, k=5, n_probe=3)
    persisted = sorted(
        (r["query_id"], r["neighbor_id"], r["adist"], r["rk"])
        for r in out_df.collect()
    )
    assert persisted == inline and persisted
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan


def test_ivf_pq_index_without_books_raises(spark, emb, tmp_path):
    from atlas_upscaling_dask_spark.extensions.similarity import (
        build_ivf_index,
        ivf_pq_index_topk,
    )

    idx = str(tmp_path / "ivf_nobooks")
    build_ivf_index(emb, idx, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="no PQ codebooks"):
        ivf_pq_index_topk(spark, idx, q, k=3, n_probe=2)


# ----------------------------------------------------------- image phash


def test_image_phash_invariance_and_sensitivity(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import image_phash
    from atlas_upscaling_dask_spark.sources.png import encode_png

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(64, 48), dtype=np.uint8)
    # tiny perturbation: +1 on a few pixels (phash should move little)
    near = base.copy()
    near[:4, :4] = np.clip(near[:4, :4].astype(int) + 1, 0, 255).astype(np.uint8)
    far = 255 - base  # inversion flips every AC coefficient's sign
    pdf = [
        (0, bytearray(encode_png(base))),
        (1, bytearray(encode_png(base))),  # exact duplicate
        (2, bytearray(encode_png(near))),
        (3, bytearray(encode_png(far))),
    ]
    media = spark.createDataFrame(pdf, "media_id long, payload binary")
    out = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    assert out[0] == out[1]
    d_near = bin(out[0] ^ out[2]).count("1")
    d_far = bin(out[0] ^ out[3]).count("1")
    assert d_near <= 6, d_near
    assert d_far >= 40, d_far  # inversion flips all 63 thresholded bits-ish
    assert all(0 <= h < 2**63 for h in out.values())


def test_image_phash_16bit_depth_consistent(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import image_phash
    from atlas_upscaling_dask_spark.sources.png import encode_png

    rng = np.random.default_rng(11)
    img8 = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    img16 = (img8.astype(np.uint16) * 256)  # same image, deeper samples
    media = spark.createDataFrame(
        [(0, bytearray(encode_png(img8))), (1, bytearray(encode_png(img16)))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    # hash thresholds RELATIVE magnitude: uniform scaling is invariant
    assert out[0] == out[1]


def test_hamming_near_dup_matches_bruteforce(spark):
    import itertools

    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import hamming_near_dup

    rng = np.random.default_rng(3)
    # cluster structure: a few seeds, others are seeds with few flipped bits
    seeds = [int(x) for x in rng.integers(0, 2**62, size=6)]
    hashes = []
    for i in range(40):
        h = seeds[i % 6]
        for _ in range(i % 5):
            h ^= 1 << int(rng.integers(0, 63))
        hashes.append((i, h))
    df = spark.createDataFrame(hashes, "media_id long, phash long")
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in hamming_near_dup(df, max_hamming=7).collect()
    }
    truth = set()
    for (i, a), (j, b) in itertools.combinations(hashes, 2):
        d = bin(a ^ b).count("1")
        if d <= 7:
            truth.add((i, j, d))
    assert got == truth


def test_hamming_near_dup_bound_validation(spark):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.extensions.dedup import hamming_near_dup

    df = spark.createDataFrame([(1, 0)], "media_id long, phash long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dup(df, max_hamming=8, n_bands=8)


def test_phash_index_query_matches_inline_and_appends(spark, tmp_path):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import (
        append_to_phash_index,
        build_phash_index,
        hamming_near_dup,
        phash_index_query,
    )

    rng = np.random.default_rng(5)
    seeds = [int(x) for x in rng.integers(0, 2**62, size=4)]
    corpus = [(i, seeds[i % 4] ^ (1 << int(rng.integers(0, 63)))) for i in range(30)]
    probe = [(100 + i, seeds[i % 4] ^ (1 << int(rng.integers(0, 63)))) for i in range(8)]
    cdf = spark.createDataFrame(corpus, "media_id long, phash long")
    pdf = spark.createDataFrame(probe, "media_id long, phash long")
    idx = str(tmp_path / "phash_idx")
    build_phash_index(cdf, idx)

    got = {
        (r["probe_id"], r["corpus_id"], r["hamming"])
        for r in phash_index_query(spark, idx, pdf).collect()
    }
    # ground truth: inline join over the union, restricted to probe×corpus
    truth = {
        (pi, ci, bin(ph ^ ch).count("1"))
        for pi, ph in probe
        for ci, ch in corpus
        if bin(ph ^ ch).count("1") <= 7
    }
    assert got == truth and truth, "index probe must equal brute force"

    # append the probe batch; an index query for a fresh probe must now
    # also see the appended images — equivalent to a full rebuild
    append_to_phash_index(pdf, idx)
    probe2 = spark.createDataFrame([(200, seeds[0])], "media_id long, phash long")
    got2 = {
        (r["corpus_id"], r["hamming"])
        for r in phash_index_query(spark, idx, probe2).collect()
    }
    all_rows = corpus + probe
    truth2 = {
        (ci, bin(seeds[0] ^ ch).count("1"))
        for ci, ch in all_rows
        if bin(seeds[0] ^ ch).count("1") <= 7
    }
    assert got2 == truth2

    # pinned-band contract: an out-of-bound probe distance is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        phash_index_query(spark, idx, pdf, max_hamming=8)


def test_image_phash_small_images_and_string_ids(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import image_phash
    from atlas_upscaling_dask_spark.sources.png import encode_png

    rng = np.random.default_rng(2)
    tiny = rng.integers(0, 256, size=(16, 9), dtype=np.uint8)  # icon < 32px
    big = rng.integers(0, 256, size=(40, 64), dtype=np.uint8)
    media = spark.createDataFrame(
        [("img/a.png", bytearray(encode_png(tiny))),
         ("img/b.png", bytearray(encode_png(big)))],
        "media_id string, payload binary",
    )
    out = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    assert set(out) == {"img/a.png", "img/b.png"}
    assert all(0 <= h < 2**63 for h in out.values())


def test_image_phash_hash_size_validation(spark):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.extensions.multimodal import image_phash

    media = spark.createDataFrame([(1, b"")], "media_id long, payload binary")
    with _pytest.raises(ValueError, match="hash_size"):
        image_phash(media, hash_size=16)


def test_phash_index_append_refuses_wrong_id_type(spark, tmp_path):
    import pytest as _pytest

    from atlas_upscaling_dask_spark.extensions.dedup import (
        append_to_phash_index,
        build_phash_index,
    )

    idx = str(tmp_path / "idx")
    build_phash_index(
        spark.createDataFrame([(1, 5)], "media_id long, phash long"), idx
    )
    bad = spark.createDataFrame([("x", 5)], "media_id string, phash long")
    with _pytest.raises(ValueError, match="id_type"):
        append_to_phash_index(bad, idx)


def test_funnel_conversion_window(spark):
    from atlas_upscaling_dask_spark.operators.funnel import funnel

    rows = [
        # user 1: A@0h, B@2h, C@3h — completes only without a 1h window
        (1, 0, "A"), (1, 7200, "B"), (1, 10800, "C"),
        # user 2: A@0, B@30m, C@50m — completes inside 1h
        (2, 0, "A"), (2, 1800, "B"), (2, 3000, "C"),
        # user 3: A@0 then A@10h, B@10.5h — window anchors at FIRST A,
        # so depth stays 1 by the documented convention
        (3, 0, "A"), (3, 36000, "A"), (3, 37800, "B"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, t long, event_type string").select(
        "user_id", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "event_type"
    )
    hour = 3_600_000_000
    out = {r["user_id"]: r["depth"] for r in funnel(ev, ["A", "B", "C"], within_us=hour).collect()}
    assert out == {1: 1, 2: 3, 3: 1}
    unbounded = {r["user_id"]: r["depth"] for r in funnel(ev, ["A", "B", "C"]).collect()}
    assert unbounded == {1: 3, 2: 3, 3: 2}


def test_phash_index_compaction_preserves_queries(spark, tmp_path):
    # append-heavy indexes accumulate small files; compact_table must
    # preserve the band partitioning, the params sidecar, and every
    # query result bit-for-bit
    import os

    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import (
        append_to_phash_index,
        build_phash_index,
        phash_index_query,
    )
    from atlas_upscaling_dask_spark.sinks.writer import compact_table

    rng = np.random.default_rng(13)
    idx = str(tmp_path / "cidx")
    seed = int(rng.integers(0, 2**62))
    build_phash_index(
        spark.createDataFrame([(0, seed)], "media_id long, phash long"), idx
    )
    for i in range(1, 4):  # three appends -> one small file per band each
        batch = spark.createDataFrame(
            [(i, seed ^ (1 << int(rng.integers(0, 63))))],
            "media_id long, phash long",
        )
        append_to_phash_index(batch, idx)
    probe = spark.createDataFrame([(100, seed)], "media_id long, phash long")
    before = sorted(
        map(tuple, phash_index_query(spark, idx, probe).collect())
    )
    stats = compact_table(spark, idx, partition_cols=("band",))
    assert stats["files_after"] < stats["files_before"]
    after = sorted(map(tuple, phash_index_query(spark, idx, probe).collect()))
    assert after == before and before
    assert os.path.exists(os.path.join(idx, "_phash_index.json"))


def test_hash_features_l2_and_partition_invariance(spark):
    import math

    from atlas_upscaling_dask_spark.extensions.text import hash_features

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "x"), (3, "a b a c")],
        "doc_id long, text string",
    )
    rows = hash_features(df, n_features=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["bucket"]] = r["weight"]
    # unit L2 norm per doc
    for d, vec in by_doc.items():
        assert math.isclose(sum(w * w for w in vec.values()), 1.0, rel_tol=1e-12), d
    # identical text -> identical sparse vector
    assert by_doc[1] == by_doc[3]
    # single-token doc is a unit basis vector
    assert list(by_doc[2].values()) == [1.0]
    # partitioning must not change weights (integer norm, one division)
    re = hash_features(df.repartition(7), n_features=8).collect()
    assert {(r["doc_id"], r["bucket"], r["weight"]) for r in re} == {
        (r["doc_id"], r["bucket"], r["weight"]) for r in rows
    }


def test_audio_fingerprint_semantics(spark):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.multimodal import audio_fingerprint
    from atlas_upscaling_dask_spark.sources.wav import encode_wav

    j = np.arange(256 * 9)
    tone16 = np.where((j % 16) < 8, 0.4, -0.4)   # bin 16 in every frame
    tone32 = np.where((j % 32) < 16, 0.4, -0.4)  # bin 8 in every frame
    short = tone16[:100]  # zero-padded clip
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(tone16, 8000))),
            (2, bytearray(encode_wav(tone16, 8000))),      # exact dup
            (3, bytearray(encode_wav(tone32, 8000))),
            (4, bytearray(encode_wav(short, 8000))),
            # stereo: both channels the same tone -> same fingerprint
            (5, bytearray(encode_wav(np.stack([tone16, tone16], 1), 8000))),
        ],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    want16 = sum(16 << (7 * i) for i in range(9))
    assert out[1] == want16 == out[2] == out[5]
    assert out[3] == sum(8 << (7 * i) for i in range(9))
    assert out[4] != out[1]  # padding changes later frames
    assert all(0 <= v < 2**63 for v in out.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_frames"):
        audio_fingerprint(media, n_frames=10)


def test_video_frame_hashes_and_set_jaccard(spark, tmp_path):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import set_jaccard_pairs
    from atlas_upscaling_dask_spark.extensions.multimodal import (
        image_phash,
        video_frame_hashes,
    )
    from atlas_upscaling_dask_spark.sources import tiff as tiffmod
    from atlas_upscaling_dask_spark.sources.png import encode_png

    rng = np.random.default_rng(17)
    frames = [rng.integers(0, 256, size=(32, 32), dtype=np.uint8) for _ in range(4)]

    def vid(sel):
        p = str(tmp_path / f"v{''.join(map(str, sel))}.tif")
        tiffmod.write_tiff(p, np.stack([frames[i] for i in sel]))
        return bytearray(open(p, "rb").read())

    media = spark.createDataFrame(
        [
            (1, vid([0, 1, 2, 3])),
            (2, vid([0, 1, 2, 3])),  # identical clip
            (3, vid([0, 1, 2])),     # shares 3 of 4 scenes with 1
            (4, vid([3])),           # shares 1 scene
        ],
        "media_id long, payload binary",
    )
    fh = video_frame_hashes(media)
    rows = fh.collect()
    assert len(rows) == 4 + 4 + 3 + 1
    # frame 0's hash must equal image_phash of the same frame as a still
    png = spark.createDataFrame(
        [(9, bytearray(encode_png(frames[0])))], "media_id long, payload binary"
    )
    still = image_phash(png).first()["phash"]
    v1f0 = {(r["media_id"], r["frame_idx"]): r["phash"] for r in rows}[(1, 0)]
    assert v1f0 == still

    pairs = {
        (r["d1"], r["d2"]): (r["inter"], r["jaccard"])
        for r in set_jaccard_pairs(fh, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == (4, 1.0)
    assert pairs[(1, 3)][0] == 3 and abs(pairs[(1, 3)][1] - 0.75) < 1e-12
    assert (1, 4) not in pairs  # jaccard 0.25 below threshold


def test_audio_fingerprint_guards_and_string_ids(spark):
    import numpy as np
    import pytest as _pytest

    from atlas_upscaling_dask_spark.extensions.multimodal import audio_fingerprint
    from atlas_upscaling_dask_spark.sources.wav import encode_wav

    tone = np.where((np.arange(256 * 9) % 16) < 8, 0.4, -0.4)
    media = spark.createDataFrame(
        [("clip/a.wav", bytearray(encode_wav(tone, 8000)))],
        "media_id string, payload binary",
    )
    (row,) = audio_fingerprint(media).collect()
    assert row["media_id"] == "clip/a.wav"
    assert row["afp"] == sum(16 << (7 * i) for i in range(9))
    with _pytest.raises(ValueError, match="frame_len"):
        audio_fingerprint(media, frame_len=512)
    # Nyquist-period input: bin 128 is excluded from the search, so the
    # dominant falls to the strongest in-range bin instead of aliasing
    import numpy as np

    from atlas_upscaling_dask_spark.sources.wav import encode_wav

    nyq = np.where((np.arange(256 * 9) % 2) < 1, 0.4, -0.4)
    m2 = spark.createDataFrame(
        [(1, bytearray(encode_wav(nyq, 8000)))], "media_id long, payload binary"
    )
    (r2,) = audio_fingerprint(m2).collect()
    assert 0 <= r2["afp"] < 2**63


def test_index_takedown_tombstones_and_purge(spark, tmp_path):
    import numpy as np

    from atlas_upscaling_dask_spark.extensions.dedup import (
        add_index_tombstones,
        build_phash_index,
        phash_index_query,
        purge_index_tombstones,
    )

    rng = np.random.default_rng(23)
    seed = int(rng.integers(0, 2**62))
    corpus = [(i, seed ^ (1 << i)) for i in range(10)]
    idx = str(tmp_path / "tidx")
    build_phash_index(
        spark.createDataFrame(corpus, "media_id long, phash long"), idx
    )
    probe = spark.createDataFrame([(100, seed)], "media_id long, phash long")
    full = {r["corpus_id"] for r in phash_index_query(spark, idx, probe).collect()}
    assert full == set(range(10))

    # takedown ids 3 and 7: the NEXT query must not match them
    add_index_tombstones(
        spark, idx, spark.createDataFrame([(3,), (7,)], "id long")
    )
    soft = {r["corpus_id"] for r in phash_index_query(spark, idx, probe).collect()}
    assert soft == full - {3, 7}

    # physical purge: rows gone from disk, params sidecar survives,
    # queries unchanged, tombstones cleared
    stats = purge_index_tombstones(spark, idx)
    assert stats["tombstones_cleared"] == 2
    assert stats["rows_purged"] == 2 * 8  # 8 bands/id
    assert stats["rows_after"] == stats["rows_before"] - 2 * 8
    hard = {r["corpus_id"] for r in phash_index_query(spark, idx, probe).collect()}
    assert hard == soft
    raw = {r["media_id"] for r in spark.read.parquet(idx).collect()}
    assert 3 not in raw and 7 not in raw
    # idempotent second purge: nothing left to do
    assert purge_index_tombstones(spark, idx)["tombstones_cleared"] == 0


def test_bm25_takedown_and_purge(spark, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import (
        add_index_tombstones,
        purge_index_tombstones,
    )
    from atlas_upscaling_dask_spark.extensions.retrieval import (
        bm25_index_topk,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark streaming joins and spark state"),
            (2, "spark shuffle exchange plans"),
            (3, "gardening tips for winter roses"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bm25_ts")
    build_text_index(docs, idx)
    full = {r["doc_id"] for r in bm25_index_topk(spark, idx, ["spark"], k=5).collect()}
    assert full == {1, 2}

    add_index_tombstones(spark, idx, spark.createDataFrame([(1,)], "id long"))
    soft = {r["doc_id"] for r in bm25_index_topk(spark, idx, ["spark"], k=5).collect()}
    assert soft == {2}  # taken-down doc stops matching immediately

    import json
    import os

    stats0 = json.loads(open(os.path.join(idx, "_corpus_stats.json")).read())
    out = purge_index_tombstones(spark, idx, partition_col="bucket")
    assert out["tombstones_cleared"] == 1
    assert out["rows_purged"] == out["rows_before"] - out["rows_after"]
    stats1 = json.loads(open(os.path.join(idx, "_corpus_stats.json")).read())
    assert stats1["n_docs"] == stats0["n_docs"] - 1
    assert stats1["sum_len"] < stats0["sum_len"]
    hard = {r["doc_id"] for r in bm25_index_topk(spark, idx, ["spark"], k=5).collect()}
    assert hard == {2}
    raw = {r["doc_id"] for r in spark.read.parquet(idx).collect()}
    assert 1 not in raw


def test_ivf_index_takedown(spark, emb, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import add_index_tombstones
    from atlas_upscaling_dask_spark.extensions.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    idx = str(tmp_path / "ivf_ts")
    build_ivf_index(emb, idx, n_centroids=4)
    q = emb.filter(F.col("vec_id") < 2)
    full = ivf_index_topk(spark, idx, q, k=3)
    top = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    victim = next(n for _q, n in top)
    add_index_tombstones(
        spark, idx, spark.createDataFrame([(int(victim),)], "id long")
    )
    after = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_index_topk(spark, idx, q, k=3).collect()
    }
    assert all(n != victim for _q, n in after)
    assert after  # still returns k results from remaining corpus

    # physical purge autodetects the IVF layout's neighbor_id column
    from atlas_upscaling_dask_spark.extensions.dedup import (
        purge_index_tombstones,
    )

    out = purge_index_tombstones(spark, idx, partition_col="bucket")
    assert out["tombstones_cleared"] == 1
    assert out["rows_purged"] == 1  # one row per vector in the IVF layout
    raw = {r["neighbor_id"] for r in spark.read.parquet(idx).collect()}
    assert victim not in raw
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_index_topk(spark, idx, q, k=3).collect()
    }
    assert again == after


def test_purge_all_rows_leaves_readable_empty_index(spark, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import (
        add_index_tombstones,
        build_phash_index,
        phash_index_query,
        purge_index_tombstones,
    )

    idx = str(tmp_path / "tidx_empty")
    build_phash_index(
        spark.createDataFrame([(1, 7), (2, 9)], "media_id long, phash long"),
        idx,
    )
    add_index_tombstones(
        spark, idx, spark.createDataFrame([(1,), (2,)], "id long")
    )
    out = purge_index_tombstones(spark, idx)
    assert out["rows_after"] == 0 and out["rows_purged"] == out["rows_before"]
    # the fully-purged index stays schema-inferable and queryable
    assert spark.read.parquet(idx).count() == 0
    probe = spark.createDataFrame([(100, 7)], "media_id long, phash long")
    assert phash_index_query(spark, idx, probe).count() == 0


def test_compaction_preserves_pending_tombstones(spark, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import (
        add_index_tombstones,
        build_phash_index,
        phash_index_query,
    )
    from atlas_upscaling_dask_spark.sinks.writer import compact_table

    idx = str(tmp_path / "tidx_compact")
    build_phash_index(
        spark.createDataFrame(
            [(i, 1 << i) for i in range(6)], "media_id long, phash long"
        ),
        idx,
    )
    add_index_tombstones(spark, idx, spark.createDataFrame([(4,)], "id long"))
    compact_table(spark, idx, partition_cols=("band",))
    # the takedown survives routine maintenance: still excluded
    probe = spark.createDataFrame([(100, 1 << 4)], "media_id long, phash long")
    hits = {r["corpus_id"] for r in phash_index_query(spark, idx, probe).collect()}
    assert 4 not in hits


def test_tombstone_id_type_cast_matches_exactly(spark, tmp_path):
    from atlas_upscaling_dask_spark.extensions.dedup import (
        add_index_tombstones,
        build_phash_index,
        phash_index_query,
    )

    idx = str(tmp_path / "tidx_str")
    build_phash_index(
        spark.createDataFrame(
            [("a", 3), ("9007199254740993", 5)], "media_id string, phash long"
        ),
        idx,
    )
    # long tombstone against a string-id index: matched by exact cast,
    # not a lossy double coercion (9007199254740993 > 2^53)
    add_index_tombstones(
        spark, idx, spark.createDataFrame([(9007199254740993,)], "id long")
    )
    probe = spark.createDataFrame(
        [("p", 3), ("q", 5)], "media_id string, phash long"
    )
    hits = {r["corpus_id"] for r in phash_index_query(spark, idx, probe).collect()}
    assert hits == {"a"}


def test_kmv_set_ops_exact_below_k_and_bounded_error_above(spark):
    from atlas_upscaling_dask_spark.extensions.sketches import (
        kmv_set_ops,
        kmv_sketch,
    )

    # below k: every estimate is exact (the sketch IS the set)
    small = spark.createDataFrame(
        [("a", u) for u in range(30)] + [("b", u) for u in range(20, 51)],
        "g string, u long",
    )
    sk = kmv_sketch(small, "u", ["g"], k=64)
    (r,) = kmv_set_ops(sk, "g", "a", "b", k=64).collect()
    assert r["ndv_a_est"] == 30.0 and r["ndv_b_est"] == 31.0
    assert r["union_est"] == 51.0
    assert r["inter_est"] == 10.0  # users 20..29
    assert abs(r["jaccard_est"] - 10.0 / 51.0) < 1e-12

    # above k: estimates land within ~4 relative standard errors
    big = spark.createDataFrame(
        [("a", u) for u in range(2000)]
        + [("b", u) for u in range(1000, 3000)],
        "g string, u long",
    )
    skb = kmv_sketch(big, "u", ["g"], k=64)
    (rb,) = kmv_set_ops(skb, "g", "a", "b", k=64).collect()
    rse = 4 / (62**0.5)
    assert abs(rb["union_est"] - 3000) / 3000 < rse
    assert abs(rb["inter_est"] - 1000) / 1000 < 3 * rse  # ratio estimator


def test_cms_never_underestimates_and_wide_sketch_is_exact(spark):
    from atlas_upscaling_dask_spark.extensions.sketches import (
        cms_build,
        cms_estimate,
    )

    # skewed multiset: value i appears i+1 times
    rows = [(f"v{i}",) for i in range(40) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "t string")
    probes = df.select("t").distinct()
    exact = {f"v{i}": i + 1 for i in range(40)}

    # narrow sketch: one-sided error only (est >= exact, always)
    narrow = cms_estimate(
        cms_build(df, "t", depth=3, width=16), probes, "t", depth=3, width=16
    )
    for r in narrow.collect():
        assert r["cms_est"] >= exact[r["t"]]

    # wide sketch: few collisions expected, min-over-depth exact here
    wide = cms_estimate(
        cms_build(df, "t", depth=4, width=4096), probes, "t", depth=4, width=4096
    )
    assert {r["t"]: r["cms_est"] for r in wide.collect()} == exact


def test_cms_merge_by_summing_shards(spark):
    from pyspark.sql import functions as F

    from atlas_upscaling_dask_spark.extensions.sketches import (
        cms_build,
        cms_estimate,
    )

    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "t string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 7, "t string")
    merged = (
        cms_build(a, "t").unionByName(cms_build(b, "t"))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(a.unionByName(b), "t")
    probes = spark.createDataFrame([("x",), ("y",), ("z",)], "t string")
    em = {r["t"]: r["cms_est"] for r in cms_estimate(merged, probes, "t").collect()}
    ew = {r["t"]: r["cms_est"] for r in cms_estimate(whole, probes, "t").collect()}
    assert em == ew  # shard-and-merge == sketch-the-union


def test_bloom_semi_join_exact_and_bitmap_bounded(spark):
    from atlas_upscaling_dask_spark.extensions.sketches import (
        bloom_build,
        bloom_prefilter_join,
    )

    big = spark.createDataFrame([(i, i % 100) for i in range(5000)], "rid long, k long")
    small = spark.createDataFrame([(k,) for k in range(0, 100, 7)], "k long")
    got = {
        (r["rid"], r["k"])
        for r in bloom_prefilter_join(big, small, "k").collect()
    }
    keep = {k for k in range(0, 100, 7)}
    truth = {(i, i % 100) for i in range(5000) if (i % 100) in keep}
    assert got == truth

    bm = bloom_build(small, "k", m_bits=4096, k_hashes=5)
    assert bm.count() <= 4096 // 64  # bitmap words only, never key rows


def test_bloom_prefilter_mixed_key_types_no_false_negatives(spark):
    from atlas_upscaling_dask_spark.extensions.sketches import (
        bloom_prefilter_join,
    )

    # big side double keys, small side longs: 7 must match 7.0 exactly
    # as the plain coerced semi-join would
    big = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(200)], "rid long, k double"
    )
    small = spark.createDataFrame([(7,), (3,)], "k long")
    got = {r["rid"] for r in bloom_prefilter_join(big, small, "k").collect()}
    truth = {
        r["rid"] for r in big.join(small, "k", "left_semi").collect()
    }
    assert got == truth and got  # non-empty and identical


def test_bloom_prefilter_saturated_filter_falls_back(spark):
    from atlas_upscaling_dask_spark.extensions.sketches import (
        bloom_prefilter_join,
    )

    big = spark.createDataFrame([(i, i) for i in range(3000)], "rid long, k long")
    small = spark.createDataFrame([(k,) for k in range(0, 3000, 2)], "k long")
    # 1500 keys against an explicit 1024-bit filter: saturated — the
    # guard must return the exact plain semi-join, not a useless screen
    got = bloom_prefilter_join(big, small, "k", m_bits=1024)
    truth = big.join(small, "k", "left_semi")
    assert got.exceptAll(truth).isEmpty() and truth.exceptAll(got).isEmpty()


def test_bloom_prefilter_widening_coercion_no_false_negatives(spark):
    # The common join type can widen BOTH sides (big long vs small
    # double coerces big to double): 2**53+1 as a long rounds to
    # 2**53 as a double and matches small's 2**53 — the bloom screen
    # must hash at the coerced type or it silently drops that match.
    from atlas_upscaling_dask_spark.extensions.sketches import (
        bloom_prefilter_join,
    )

    big = spark.createDataFrame(
        [(1, 2**53 + 1), (2, 7), (3, 9)], "rid long, k long"
    )
    small = spark.createDataFrame([(float(2**53),), (7.0,)], "k double")
    got = {r["rid"] for r in bloom_prefilter_join(big, small, "k").collect()}
    truth = {r["rid"] for r in big.join(small, "k", "left_semi").collect()}
    assert got == truth == {1, 2}


def test_canonical_by_quality_prefers_best_copy(spark):
    # Family {1,2,3} linked by pairs; doc 2 has the highest quality so
    # it is canonical despite not being min-id; singleton 9 keeps
    # itself; ties fall back to min doc_id.
    from atlas_upscaling_dask_spark.extensions.dedup import canonical_by_quality

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "d1 long, d2 long")
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (9, 0.1)], "doc_id long, quality double"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in canonical_by_quality(docs, pairs, quality).collect()
    }
    # 2 and 3 tie on quality 0.9 -> min doc_id (2) wins
    assert got == {1: (1, False), 2: (1, True), 3: (1, False), 9: (9, True)}


def test_equidepth_histogram_buckets_balanced(spark):
    # 1000 heavily-skewed values into 10 buckets: every bucket must hold
    # exactly 100 rows (the defining equi-depth property, which an
    # equi-width histogram fails by construction here), contiguous
    # non-overlapping ranges, and total == N.
    from atlas_upscaling_dask_spark.operators.profile import equidepth_histogram

    vals = [(float(i * i),) for i in range(1000)]  # quadratic skew
    df = spark.createDataFrame(vals, "v double")
    rows = sorted(
        equidepth_histogram(df, "v", k=10).collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in rows] == list(range(10))
    assert all(r["n_rows"] == 100 for r in rows)
    assert sum(r["n_rows"] for r in rows) == 1000
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi"] <= cur["lo"]


def test_equidepth_histogram_tie_runs_are_stable(spark):
    # A value run straddling a boundary: bucket populations stay fixed
    # by the rank formula and the straddled value shows up as hi of one
    # bucket and lo of the next — tie order cannot change the output.
    from atlas_upscaling_dask_spark.operators.profile import equidepth_histogram

    df = spark.createDataFrame([(1.0,)] * 6 + [(2.0,)] * 6, "v double")
    rows = {r["bucket"]: r for r in equidepth_histogram(df, "v", k=4).collect()}
    assert {b: rows[b]["n_rows"] for b in rows} == {0: 3, 1: 3, 2: 3, 3: 3}
    assert rows[1]["lo"] == 1.0 and rows[1]["hi"] == 1.0
    assert rows[2]["lo"] == 2.0


def test_pair_lift_hand_computed(spark):
    # Baskets: {1,2} x3, {1,3}, {2,3} -> pair (1,2) support 3; lift =
    # (3*5)/(4*4) = 0.9375. min_support=3 drops the other pairs.
    from atlas_upscaling_dask_spark.extensions.assoc import pair_lift

    rows = [
        (10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2),
        (13, 1), (13, 3), (14, 2), (14, 3),
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    got = pair_lift(df, "basket", "item", min_support=3, top_k=5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["a"], r["b"], r["cnt_ab"], r["cnt_a"], r["cnt_b"]) == (1, 2, 3, 4, 4)
    assert r["lift"] == (3.0 * 5.0) / (4.0 * 4.0)


def test_pair_lift_oversized_basket_dropped(spark):
    # A basket above max_basket contributes NO pairs (dropped whole,
    # not truncated) — the quadratic-blowup guard.
    from atlas_upscaling_dask_spark.extensions.assoc import pair_lift

    big = [(99, i) for i in range(70)]
    small = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2)]
    df = spark.createDataFrame(big + small, "basket long, item long")
    got = pair_lift(df, "basket", "item", min_support=1, top_k=100).collect()
    assert {(r["a"], r["b"]) for r in got} == {(1, 2)}
    assert got[0]["cnt_ab"] == 3


def test_knn_graph_mutual_edges_only(spark):
    # 4 vectors in one LSH bucket (all-positive first component): 0 and
    # 1 are near-identical (mutual rank 1), 2 is a hub-ish point, 3 is
    # far from everything with k=1 — asymmetric edges must be pruned.
    from atlas_upscaling_dask_spark.extensions.similarity import knn_graph_mutual

    rows = [
        (0, [1.0, 0.0, 0.1]),
        (1, [1.0, 0.0, 0.12]),
        (2, [1.0, 0.9, 0.0]),
        (3, [1.0, -0.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["a"], r["b"]) for r in knn_graph_mutual(df, k=1, n_planes=1).collect()}
    # with k=1: 0<->1 mutual; 2 and 3 each pick 0 or 1 but are nobody's
    # top-1 -> no other edge survives
    assert got == {(0, 1)}
    full = knn_graph_mutual(df, k=3, n_planes=1)
    r01 = [r for r in full.collect() if (r["a"], r["b"]) == (0, 1)][0]
    assert r01["rk_ab"] == 1 and r01["rk_ba"] == 1


def test_negative_samples_properties(spark):
    # k negatives per anchor, never the anchor itself, all valid ids,
    # deterministic across invocations, different under another seed.
    from atlas_upscaling_dask_spark.extensions.training import negative_samples

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(17)], "doc_id long, text string"
    )
    out1 = sorted(map(tuple, negative_samples(docs, k=3, seed=1).collect()))
    out2 = sorted(map(tuple, negative_samples(docs, k=3, seed=1).collect()))
    out3 = sorted(map(tuple, negative_samples(docs, k=3, seed=2).collect()))
    assert out1 == out2 and out1 != out3
    assert len(out1) == 17 * 3
    ids = set(range(17))
    for doc_id, j, neg in out1:
        assert neg in ids and neg != doc_id and 0 <= j < 3


def test_tfidf_topterms_rarity_beats_frequency(spark):
    # "rare" appears once in doc 1 but nowhere else; "common" appears
    # twice in doc 1 but in every doc — rarity must outrank frequency.
    from atlas_upscaling_dask_spark.extensions.text import tfidf_topterms

    docs = spark.createDataFrame(
        [
            (1, "common common rare"),
            (2, "common filler"),
            (3, "common filler"),
        ],
        "doc_id long, text string",
    )
    got = tfidf_topterms(docs, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in got}
    assert top[1] == "rare"
    # idf surrogate: tf=1, df=1, n=3 -> 1*(6-2+1)/3 = 5/3
    r1 = [r for r in got if r["doc_id"] == 1][0]
    assert r1["score"] == 5.0 / 3.0 and r1["rank"] == 1


def test_semantic_dedup_suite_row_uses_gemm_backend(spark, tmp_path):
    # r12: the declared semantic_dedup query runs the gemm backend
    # (guide §4.2 — one vectorized kernel per bucket instead of an
    # interpreted expression-fold per pair; measured 4.95× in an
    # interleaved A/B).  Output must stay bit-identical to the fold
    # backend on the driver's testdata — this pins it at sf0.001.
    from atlas_upscaling_dask_spark import suite
    from atlas_upscaling_dask_spark.extensions.similarity import semantic_dedup
    from atlas_upscaling_dask_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(map(tuple, suite.QUERIES["semantic_dedup"](spark, sf_dir).collect()))
    fold = sorted(
        map(
            tuple,
            semantic_dedup(
                load_table(spark, sf_dir, "embeddings"), 0.3, 16, backend="fold"
            ).collect(),
        )
    )
    assert got == fold and got


def test_bpe_local_path_matches_distributed(spark):
    # r12: small vocabularies train driver-local on the collected
    # word-frequency table (32x on the bench row); the merge list AND
    # the final symbol frame must be identical to the distributed loop.
    from atlas_upscaling_dask_spark.extensions.bpe import (
        bpe_train,
        bpe_train_batched,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new"),
         (3, "wide wider widest lower")],
        "doc_id long, text string",
    )
    m_l, s_l = bpe_train_batched(docs, n_merges=24, max_batch=8)
    m_d, s_d = bpe_train_batched(docs, n_merges=24, max_batch=8, local_threshold=0)
    assert m_l == m_d and m_l
    assert s_l.exceptAll(s_d).isEmpty() and s_d.exceptAll(s_l).isEmpty()
    m10_l, t_l = bpe_train(docs, n_merges=6)
    m10_d, t_d = bpe_train(docs, n_merges=6, local_threshold=0)
    assert m10_l == m10_d and m10_l
    assert t_l.exceptAll(t_d).isEmpty() and t_d.exceptAll(t_l).isEmpty()
