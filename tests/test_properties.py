"""Property-based tests (hypothesis) for the two semantics most likely to be
silently wrong under shuffle (SURVEY §7 "what's hard" #1): time-ordered
first/last in resample buckets, and nearest-prior as-of matching across
bucket boundaries. Each property is checked against an independent pandas
brute-force model on randomized inputs."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from binance_data_framework_spark.operators.asof import asof_join
from binance_data_framework_spark.operators.ohlcv import resample_ohlcv

T0 = datetime(2024, 1, 1)

# (minute-offset, price) ticks with unique timestamps per example
_ticks = st.dictionaries(
    st.integers(min_value=0, max_value=60 * 48),  # two days of minutes
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=60,
).map(lambda d: sorted(d.items()))


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_ticks)
def test_resample_matches_pandas(spark, data):
    rows = [("S", T0 + timedelta(minutes=m), float(p)) for m, p in data]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, price double")
    got = {
        r["bucket"]: (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in resample_ohlcv(df, "1h").collect()
    }

    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "price"]).set_index("ts")
    ref = pdf["price"].resample("1h").agg(["first", "max", "min", "last", "count"]).dropna()
    assert len(got) == len(ref)
    for bucket, row in ref.iterrows():
        o, h, l, c, n = got[bucket.to_pydatetime()]
        assert (o, h, l, c) == (row["first"], row["max"], row["min"], row["last"])
        assert n == int(row["count"])


_times = st.lists(
    st.integers(min_value=0, max_value=60 * 72), min_size=1, max_size=40, unique=True
)


_lr_times = st.tuples(
    st.lists(st.integers(min_value=0, max_value=60 * 24), min_size=1, max_size=25, unique=True),
    st.lists(st.integers(min_value=0, max_value=60 * 24), min_size=1, max_size=25, unique=True),
    st.integers(min_value=1, max_value=180),  # window minutes
)


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_lr_times)
def test_range_join_matches_bruteforce_property(spark, data):
    """Bucketized range join == brute-force |Δts| <= w for arbitrary
    timelines and window widths (bucket-boundary straddles and exact-edge
    ties arise naturally under randomization)."""
    from binance_data_framework_spark.operators.asof import range_join

    lmins, rmins, wmin = data
    w = wmin * 60
    left_rows = [(i, T0 + timedelta(minutes=m)) for i, m in enumerate(sorted(lmins))]
    right_rows = [(T0 + timedelta(minutes=m), float(m)) for m in sorted(rmins)]
    left = spark.createDataFrame(left_rows, "event_id long, ts timestamp")
    right = spark.createDataFrame(right_rows, "ts timestamp, value double")
    got = {
        (r["event_id"], r["ts_r"], r["value_r"])
        for r in range_join(left, right, w).collect()
    }
    expected = {
        (eid, rts, v)
        for eid, lts in left_rows
        for rts, v in right_rows
        if abs((rts - lts).total_seconds()) <= w
    }
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_times)
def test_sessionize_matches_bruteforce(spark, times):
    from binance_data_framework_spark.plans.registry import QUERIES

    # single-user timeline; 30-min gap threshold (registry constant)
    rows = [(1, T0 + timedelta(minutes=m)) for m in sorted(times)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.createOrReplaceTempView("_sess_in")

    # brute-force model
    expect_sessions = []
    cur = [rows[0][1]]
    for _, t in rows[1:]:
        if (t - cur[-1]).total_seconds() > 30 * 60:
            expect_sessions.append(cur)
            cur = [t]
        else:
            cur.append(t)
    expect_sessions.append(cur)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    got = (
        df.withColumn("_n", F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0))
        .withColumn("sid", F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"), F.count(F.lit(1)).alias("n"))
        .orderBy("sid")
        .collect()
    )
    assert len(got) == len(expect_sessions)
    for r, sess in zip(got, expect_sessions):
        assert (r["s"], r["e"], r["n"]) == (sess[0], sess[-1], len(sess))


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_times, right=_times)
def test_asof_matches_bruteforce(spark, left, right):
    lrows = [(i, T0 + timedelta(minutes=m)) for i, m in enumerate(sorted(left))]
    rrows = [(T0 + timedelta(minutes=m), float(m)) for m in sorted(right)]
    ldf = spark.createDataFrame(lrows, "event_id long, ts timestamp")
    rdf = spark.createDataFrame(rrows, "ts timestamp, value double")
    got = {
        r["event_id"]: r["value_asof"]
        for r in asof_join(ldf, rdf, value_cols=("value",)).collect()
    }
    assert len(got) == len(lrows)
    for i, lts in lrows:
        prior = [v for rts, v in rrows if rts <= lts]
        expect = prior[-1] if prior else None
        assert got[i] == expect, f"event {i} at {lts}: got {got[i]}, want {expect}"


_corpus = st.lists(
    st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
             min_size=1, max_size=30).map(" ".join),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpus)
def test_pack_sequences_conservation_property(spark, texts):
    from binance_data_framework_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    budget, shards = 16, 3
    packed = pack_sequences(docs, budget=budget, n_shards=shards).collect()
    assert sum(r["n_docs"] for r in packed) == len(texts)
    assert sum(r["total_tokens"] for r in packed) == sum(len(t.split()) for t in texts)
    max_doc = max(len(t.split()) for t in texts)
    # a sequence exceeds budget only by its one straddling doc
    assert all(r["total_tokens"] <= budget + max_doc for r in packed)
    # when every doc fits the budget, sequence ids per shard are dense from 0
    # (a doc LONGER than the budget legitimately swallows whole bins, so the
    # density invariant only holds under max_doc <= budget)
    if max_doc <= budget:
        by_shard: dict[int, list[int]] = {}
        for r in packed:
            by_shard.setdefault(r["shard"], []).append(r["seq_id"])
        for ids in by_shard.values():
            assert sorted(ids) == list(range(len(ids)))
    else:
        # ids still start at 0 and never exceed the token-stream extent
        for r in packed:
            assert 0 <= r["seq_id"]


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=10_000_000), st.integers(min_value=1, max_value=400))
def test_stratified_sampling_is_nested(spark, offset, n):
    """Multiplicative-hash sampling is NESTED: the r% sample is a subset of
    every r'% sample with r' >= r — the property that makes scaling-law
    ablation corpora comparable (a 10% corpus is literally inside the 50%)."""
    from binance_data_framework_spark.operators.curation import sample_stratified

    docs = spark.createDataFrame(
        [(offset + i, "x") for i in range(n)], "doc_id long, lang string"
    )
    sets = {}
    for rate in (10, 30, 80):
        sets[rate] = {
            r["doc_id"]
            for r in sample_stratified(docs, rates={}, default_rate=rate).collect()
        }
    assert sets[10] <= sets[30] <= sets[80]


_graphs = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
).map(lambda s: sorted({(min(a, b), max(a, b)) for a, b in s}))


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_graphs)
def test_pagerank_matches_bruteforce(spark, pairs):
    """PageRank on a random symmetrized graph matches a numpy power
    iteration exactly (same arithmetic order per node-contribution sum is
    NOT guaranteed, so compare to 1e-9), and mass is conserved."""
    import numpy as np

    from binance_data_framework_spark.operators import graph as G

    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(G.symmetrize(df), n_iter=3, damping=0.85).collect()
    }

    edges = pairs + [(b, a) for a, b in pairs]
    nodes = sorted({a for a, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    deg = np.zeros(len(nodes))
    for a, _ in edges:
        deg[idx[a]] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(3):
        nxt = np.full(len(nodes), 0.15 / len(nodes))
        for a, b in edges:
            nxt[idx[b]] += 0.85 * r[idx[a]] / deg[idx[a]]
        r = nxt
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=0,
        max_size=20,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_doc_texts)
def test_substring_dedup_matches_bruteforce(spark, texts):
    """Per-doc duplicated-span fractions match a brute-force 8-gram model:
    docs under 8 tokens are excluded, fractions are in [0,1], and a span is
    'duplicated' iff the same 8-gram occurs in ANOTHER doc."""
    from collections import Counter, defaultdict

    from binance_data_framework_spark.plans.registry import q_dedup_substring

    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    import binance_data_framework_spark.sources.fixtures as FX

    orig = FX.load_table
    FX.load_table = lambda s, d, t: df  # the query only reads `documents`
    try:
        import binance_data_framework_spark.plans.registry as R

        orig_r = R.load_table
        R.load_table = lambda s, d, t: df
        try:
            got = {
                r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
                for r in q_dedup_substring(spark, "ignored").collect()
            }
        finally:
            R.load_table = orig_r
    finally:
        FX.load_table = orig

    gram_docs = defaultdict(set)
    doc_grams = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        grams = [" ".join(toks[j : j + 8]) for j in range(len(toks) - 7)]
        doc_grams[i] = grams
        for g in grams:
            gram_docs[g].add(i)
    expect = {}
    for i, grams in doc_grams.items():
        if not grams:
            continue
        dup = sum(1 for g in grams if len(gram_docs[g]) >= 2)
        expect[i] = (len(grams), dup, round(dup / len(grams), 6))
    assert got == expect


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(train=_corpus, ev=_corpus)
def test_cross_candidates_equal_union_selfjoin_restricted(spark, train, ev):
    """minhash_cross_candidates(A, B) must equal minhash_candidates over
    the UNION restricted to cross-side pairs (same banding arithmetic by
    construction — _band_explode is shared — so any divergence is a bug
    in the cross join's pairing, dedup, or est arithmetic, exactly the
    parts the refactor could have broken). Ids are made disjoint so side
    membership is recoverable from the id."""
    from binance_data_framework_spark.operators import dedup as D

    a = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id bigint, text string"
    )
    b = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(ev)], "doc_id bigint, text string"
    )
    sa, sb = D.minhash_signature_portable(a), D.minhash_signature_portable(b)
    got = {
        (r["train_id"], r["eval_id"], round(r["est_jaccard"], 9))
        for r in D.minhash_cross_candidates(sa, sb, threshold=0.4).collect()
    }
    union_pairs = D.minhash_candidates(
        D.minhash_signature_portable(a.unionByName(b)), threshold=0.4
    ).collect()
    want = {
        # orient (train, eval): id_a < id_b always puts the train id first
        # under the disjoint-range construction
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in union_pairs
        if r["id_a"] < 10_000 <= r["id_b"]
    }
    assert got == want


# randomized key sets for the r9 store-layout machinery: keys drawn from a
# wide int64 range so shard/bucket routing exercises the hash arithmetic
_keysets = st.lists(
    st.integers(min_value=0, max_value=2**40),
    min_size=1,
    max_size=60,
    unique=True,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_keysets, _keysets)
def test_read_keys_paths_agree_property(spark, tmp_path_factory, stored, probe):
    """read_keys' pushed-IN path and semi-join path return the same rows
    for ANY stored/probe key sets (including probes absent from the
    store), and append_docs round-trips every stored key exactly once."""
    from binance_data_framework_spark.docstore import DocumentStore

    root = str(tmp_path_factory.mktemp("ds"))
    st_ = DocumentStore(spark, root, n_shards=4)
    st_.append_docs(
        spark.createDataFrame(
            [(k, f"t{k}") for k in stored], "doc_id bigint, text string"
        )
    )
    keys = spark.createDataFrame([(k,) for k in probe], "doc_id bigint")
    fast = {r["doc_id"] for r in st_.read_keys(keys).collect()}
    orig = DocumentStore.READ_KEYS_PUSHDOWN_MAX
    try:
        DocumentStore.READ_KEYS_PUSHDOWN_MAX = 0  # force semi-join
        slow = {r["doc_id"] for r in st_.read_keys(keys).collect()}
    finally:
        DocumentStore.READ_KEYS_PUSHDOWN_MAX = orig
    expected = set(stored) & set(probe)
    assert fast == slow == expected
    assert st_.read().count() == len(stored)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_keysets, _keysets)
def test_rebucket_reshard_candidate_and_read_invariance(
    spark, tmp_path_factory, ids_a, ids_b
):
    """Layout remaps are read-invariant for ANY data: after rebucket the
    band index returns the same candidate pairs; after reshard the doc
    store returns the same rows and point lookups — with duplicates
    folded but never content changed."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore

    root = str(tmp_path_factory.mktemp("bx"))
    bands = BandIndexStore(spark, f"{root}/bands", n_buckets=3)

    def brows(ids):
        return spark.createDataFrame(
            [(int(i), b, int(i) * 40_503 + b) for i in ids for b in range(2)],
            "doc_id bigint, band_idx int, band_hash long",
        )

    bands.append(brows(ids_a))
    probe = brows(ids_b)
    before = {
        (r["id_new"], r["id_stored"])
        for r in bands.candidates(probe).collect()
    }
    assert bands.rebucket(n_buckets=11) is True
    after = {
        (r["id_new"], r["id_stored"])
        for r in bands.candidates(probe).collect()
    }
    assert after == before

    ds = DocumentStore(spark, f"{root}/docs", n_shards=3)
    ds.append_docs(
        spark.createDataFrame(
            [(int(i), f"t{i}") for i in ids_a], "doc_id bigint, text string"
        )
    )
    rows_before = {(r["doc_id"], r["text"]) for r in ds.read().collect()}
    assert ds.reshard(n_shards=7) is True
    rows_after = {(r["doc_id"], r["text"]) for r in ds.read().collect()}
    assert rows_after == rows_before
    keys = spark.createDataFrame([(int(i),) for i in ids_b], "doc_id bigint")
    got = {r["doc_id"] for r in ds.read_keys(keys).collect()}
    assert got == set(ids_a) & set(ids_b)
