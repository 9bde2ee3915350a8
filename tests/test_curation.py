"""Training-data curation operators: packing conservation, sampling
determinism + plan shape, quantile-filter exactness."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.operators import curation as CU
from binance_data_framework_spark.sources.fixtures import load_table

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_pack_sequences_conserves_docs_and_tokens(spark):
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    n_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).first()["t"]
    packed = CU.pack_sequences(docs, budget=2048, n_shards=8)
    agg = packed.agg(
        F.sum("n_docs").alias("d"),
        F.sum("total_tokens").alias("t"),
        F.max("total_tokens").alias("mx"),
    ).first()
    assert agg["d"] == n_docs  # every doc lands in exactly one sequence
    assert agg["t"] == n_tokens  # no tokens created or lost
    # a sequence holds at most budget + one straddling doc's tokens
    max_doc = docs.select(F.max(F.size(F.split("text", " ")))).first()[0]
    assert agg["mx"] <= 2048 + max_doc


def test_sample_stratified_is_deterministic_narrow_filter(spark):
    docs = load_table(spark, SF, "documents")
    s1 = CU.sample_stratified(docs, rates={"en": 50}, default_rate=20)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    assert ids1 == ids2 and ids1  # reproducible, non-empty
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert set(ids1) <= all_ids
    # the whole sample is one narrow stage: NO shuffle in the plan
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"stratified sample shuffled:\n{plan[:400]}"


def test_sample_reservoir_exact_k_per_stratum(spark):
    docs = load_table(spark, SF, "documents")
    k = 10
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["lang"]: r["n"]
        for r in CU.sample_reservoir(docs, k=k)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {lang: min(k, n) for lang, n in sizes.items()}


def test_quality_quantile_filter_keeps_exact_top_half(spark):
    docs = load_table(spark, SF, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out = CU.quality_quantile_filter(docs, keep_fraction=0.5)
    got = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {lang: math.ceil(n * 0.5) for lang, n in sizes.items()}
    # kept min score >= dropped max score per lang (rank cut is order-true)
    kept_min = out.groupBy("lang").agg(F.min("score").alias("kmin"))
    dropped = docs.join(out.select("doc_id"), "doc_id", "left_anti").withColumn(
        "score", F.col("n_chars") / F.size(F.split("text", " "))
    )
    dropped_max = dropped.groupBy("lang").agg(F.max("score").alias("dmax"))
    j = kept_min.join(dropped_max, "lang").collect()
    assert all(r["kmin"] >= r["dmax"] for r in j)


def test_decontaminate_short_docs_match_nothing(spark):
    """Docs shorter than n tokens yield NO grams (strict — a whole-text
    fallback would contaminate-match short docs against everything)."""
    train = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "alpha beta gamma delta", "en")],
        "doc_id long, text string, lang string",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma epsilon", "en")], "doc_id long, text string, lang string"
    )
    hits = {r["doc_id"]: r["n_shared"] for r in CU.decontaminate(train, bench, n=3).collect()}
    assert hits == {2: 1}  # only 'alpha beta gamma'; 2-token doc 1 is gram-free


def test_sample_hashes_survive_large_ids(spark):
    """Ids above 2^31 must not overflow the int64 hash arithmetic (Spark 4
    ANSI mode raises on overflow): the id is reduced mod 2^31 before the
    multiply. For ids < 2^31 the reduction is the identity, so existing
    sample membership (and the SQL oracles) are unchanged."""
    big = spark.range(2**33, 2**33 + 1000).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("wiki").alias("source"),
        F.lit("alpha beta gamma").alias("text"),
        F.lit(15).alias("n_chars"),
    )
    strat = CU.sample_stratified(big, rates={"en": 50})
    n = strat.count()
    assert 0 < n < 1000  # no ArithmeticException, and actually selective
    res = CU.sample_reservoir(big, k=25)
    assert res.count() == 25


def test_sample_stratified_mixes_beyond_low_digits(spark):
    """Sample membership must depend on the full id, not id % 100: ids
    block-allocated on a stride of 100 (shard*10^6+k schemes) previously
    all shared one hash residue and got 0% or 100% regardless of the
    requested rate (code-review r4 finding)."""
    ids = spark.range(1000).select(
        (F.col("id") * 100).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("wiki").alias("source"),
    )
    n = CU.sample_stratified(ids, rates={"en": 50}).count()
    assert 300 < n < 700  # ~50%, not all-or-nothing


def test_chunk_documents_covers_and_overlaps(spark):
    """Chunk windows tile the token stream: chunk k starts at k*stride,
    consecutive chunks share exactly `overlap` tokens, every token is
    covered, and concatenating each chunk's non-overlap tail after chunk 0
    reconstructs the document exactly."""
    from binance_data_framework_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(55))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "x")], "doc_id long, text string")
    out = (
        chunk_documents(df, max_tokens=16, overlap=4)
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 55 tokens, stride 12 -> ceil((55-4)/12) = 5 chunks
    chunks = by_doc[1]
    assert [r["chunk_id"] for r in chunks] == [0, 1, 2, 3, 4]
    assert [r["start_tok"] for r in chunks] == [0, 12, 24, 36, 48]
    assert [r["n_tokens"] for r in chunks] == [16, 16, 16, 16, 7]
    for a, b in zip(chunks, chunks[1:]):
        ta, tb = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
        assert ta[-4:] == tb[:4]  # exact `overlap`-token overlap
    rebuilt = chunks[0]["chunk_text"].split(" ")
    for r in chunks[1:]:
        rebuilt += r["chunk_text"].split(" ")[4:]
    assert rebuilt == text.split(" ")
    # short docs: exactly one chunk, full text
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    assert by_doc[3][0]["n_tokens"] == 1
    # invalid strides raise
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_sample_mixture_hits_target_composition(spark, sf_dir):
    """Output composition matches the target weights exactly in
    expectation-free integer form: the binding source keeps everything,
    other sources keep floor-ppm fractions, absent-from-target sources are
    dropped, and the filter is deterministic across runs."""
    from binance_data_framework_spark.operators.curation import sample_mixture
    from binance_data_framework_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    target = {"src0": 5, "src1": 3, "src2": 2}
    out = sample_mixture(docs, target)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(counts) <= set(target)  # nothing outside the recipe
    n_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # the binding source (largest w/n ratio) keeps every row
    binding = max(target, key=lambda s: target[s] / n_src[s])
    assert counts[binding] == n_src[binding]
    # achieved composition within hash-quantization tolerance of the target
    total = sum(counts.values())
    parts = sum(target.values())
    for s, w in target.items():
        assert abs(counts.get(s, 0) / total - w / parts) < 0.12, (s, counts)
    # deterministic
    again = {
        r["source"]: r["n"]
        for r in sample_mixture(docs, target)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert again == counts
    with pytest.raises(ValueError, match="absent"):
        sample_mixture(docs, {"nosuchsrc": 1})
    with pytest.raises(ValueError, match="weight"):
        sample_mixture(docs, {"src0": 0})
    with pytest.raises(ValueError, match="integer"):
        sample_mixture(docs, {"src0": 0.5})  # float parts would reintroduce
        # the ppm-floor rounding that shaved the binding source


def test_shard_export_round_trip_deterministic(spark, tmp_path):
    from binance_data_framework_spark.operators.curation import (
        export_shards,
        shard_assign,
        shard_manifest,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} text body") for i in range(200)], "doc_id long, text string"
    )
    path = str(tmp_path / "shards")
    export_shards(docs, path, n_shards=4)
    back = spark.read.parquet(path)
    # every doc present exactly once, shard column recovered from the layout
    assert back.count() == 200
    assert set(back.columns) == {"doc_id", "text", "shard"}
    # layout matches the narrow assignment exactly
    expect = {
        (r["doc_id"], r["shard"])
        for r in shard_assign(docs, 4).select("doc_id", "shard").collect()
    }
    got = {(r["doc_id"], int(r["shard"])) for r in back.select("doc_id", "shard").collect()}
    assert got == expect
    # one data file per shard directory (deterministic single write task)
    import glob
    import os

    for d in sorted(glob.glob(os.path.join(path, "shard=*"))):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # manifest totals agree with the written shards
    m = {r["shard"]: r["n_docs"] for r in shard_manifest(docs, 4).collect()}
    sizes = {
        int(r["shard"]): r["n"]
        for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert m == sizes


def test_shard_assign_rejects_bad_n(spark):
    from binance_data_framework_spark.operators.curation import shard_assign

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        shard_assign(docs, 0)
