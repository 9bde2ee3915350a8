"""Edge-case tests for the r5 corpus-hygiene / retrieval text operators
(PII redaction, repetition fractions, TF-IDF, BM25) — the oracle gate
covers fixture-scale hash equality; these pin the hand-checkable
semantics the fixtures can't reach (empty docs, overlapping PII spans,
tie-breaks)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_pii_redact_stages_do_not_double_count(spark):
    # the email's digits/dots must not be re-matched by the IP or number
    # stage (they are redacted before those stages see the text)
    df = _docs(spark, [(1, "mail bob42@h4x.example.com ip 10.0.0.1 n 77")])
    row = TX.pii_redact(df).collect()[0]
    assert row["redacted"] == "mail <EMAIL> ip <IP> n <NUM>"
    assert row["n_redacted"] == 3


def test_pii_redact_clean_text_untouched(spark):
    df = _docs(spark, [(1, "no pii here at all")])
    row = TX.pii_redact(df).collect()[0]
    assert row["redacted"] == "no pii here at all"
    assert row["n_redacted"] == 0


def test_repetition_fractions_hand_checked(spark):
    # "a b a b a" -> bigrams [a b, b a, a b, b a]: top "a b" covers 2/4,
    # every bigram is duplicated -> dup 4/4
    df = _docs(spark, [(1, "a b a b a"), (2, "w x y z"), (3, "solo")])
    out = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
    assert out[1]["n_bigrams"] == 4
    assert out[1]["top_bigram_frac"] == 0.5
    assert out[1]["dup_bigram_frac"] == 1.0
    # all-distinct bigrams -> zero repetition
    assert out[2]["n_bigrams"] == 3
    assert out[2]["top_bigram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["dup_bigram_frac"] == 0.0
    # single-token doc: no bigrams, fractions defined as 0
    assert out[3]["n_bigrams"] == 0
    assert out[3]["top_bigram_frac"] == 0.0
    assert out[3]["dup_bigram_frac"] == 0.0


def test_tfidf_rank_and_tie_break(spark):
    # "z" appears only in doc 1 (idf high); "a" appears everywhere
    # (idf = ln(4/4) = 0 -> never outranks); equal-score terms order
    # alphabetically
    df = _docs(
        spark,
        [(1, "z z a"), (2, "a b c"), (3, "a b c"), (4, "a b c")],
    )
    out = TX.tfidf_top_terms(df, k=2).collect()
    doc1 = sorted(
        [r for r in out if r["doc_id"] == 1], key=lambda r: r["rank"]
    )
    assert doc1[0]["term"] == "z"
    exp = round(2 * math.log((4 + 1) / (1 + 1)), 6)
    assert doc1[0]["tfidf"] == pytest.approx(exp, abs=1e-6)
    doc2 = sorted(
        [r for r in out if r["doc_id"] == 2], key=lambda r: r["rank"]
    )
    # b and c tie exactly -> alphabetical
    assert [r["term"] for r in doc2] == ["b", "c"]


def test_bm25_prefers_rarer_term_and_matches_formula(spark):
    df = _docs(
        spark,
        [
            (1, "rare common filler filler"),
            (2, "common filler filler filler"),
            (3, "filler filler filler filler"),
        ],
    )
    out = TX.bm25_search(df, ("rare", "common"), k=10).collect()
    assert [r["doc_id"] for r in out] == [1, 2]  # doc 3 matches nothing
    # hand-computed score for doc 2: one 'common' hit, dl=4, avgdl=4
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    exp = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 1.0))
    assert out[1]["score"] == pytest.approx(round(exp, 6), abs=1e-6)
    assert out[0]["score"] > out[1]["score"]


def test_bm25_empty_query_raises(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        TX.bm25_search(df, ())


def test_unigram_logprob_hand_checked(spark):
    # corpus: "a a b" + "a" -> freqs a=3, b=1, total=4
    df = _docs(spark, [(1, "a a b"), (2, "a")])
    out = {r["doc_id"]: r for r in TX.unigram_logprob(df).collect()}
    exp1 = (2 * math.log(3 / 4) + 1 * math.log(1 / 4)) / 3
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(round(exp1, 6), abs=1e-6)
    assert out[2]["avg_logprob"] == pytest.approx(round(math.log(3 / 4), 6), abs=1e-6)
    # boilerplate (common tokens) must outrank rare-token docs
    assert out[2]["avg_logprob"] > out[1]["avg_logprob"]


def test_repetition_plan_is_narrow(spark):
    # the repetition scan must not shuffle: no Exchange in the plan
    df = _docs(spark, [(1, "a b a b")])
    plan = TX.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- property-based equivalence vs a pure-Python reference ---------------

from collections import Counter  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_corpus = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


def _ref_repetition(tokens: list[str]) -> tuple[int, float, float]:
    bigrams = [f"{a} {b}" for a, b in zip(tokens, tokens[1:])]
    nb = len(bigrams)
    if nb == 0:
        return 0, 0.0, 0.0
    counts = Counter(bigrams)
    top = max(counts.values())
    dup = sum(c for c in counts.values() if c > 1)
    return nb, round(top / nb, 6), round(dup / nb, 6)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpus)
def test_repetition_matches_counter_reference(spark, corpus):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["top_bigram_frac"], r["dup_bigram_frac"])
        for r in TX.repetition_stats(df).collect()
    }
    for i, toks in enumerate(corpus):
        assert got[i] == _ref_repetition(toks), (i, toks)


def test_pii_redact_is_idempotent(spark, sf_dir):
    # placeholders contain no digits/@ -> a second pass must be a no-op
    from binance_data_framework_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events").limit(500).select(
        "event_id", "props"
    )
    once = TX.pii_redact(ev, text_col="props", id_col="event_id")
    twice = TX.pii_redact(
        once.select("event_id", "redacted"), text_col="redacted", id_col="event_id"
    )
    joined = once.alias("a").join(twice.alias("b"), "event_id")
    diverged = joined.where(
        (F.col("a.redacted") != F.col("b.redacted")) | (F.col("b.n_redacted") != 0)
    ).count()
    assert diverged == 0


def test_doc_term_tf_arrow_pinned_equal_to_exploded_groupby(spark, sf_dir):
    """The Arrow term-counting kernel (doc_term_tf_arrow) is ROW-IDENTICAL
    to the exploded-groupBy form (_doc_term_tf) — same (doc, dl, term, tf)
    set, including multi-space runs (empty-string tokens) and empty
    texts."""
    from pyspark.sql import functions as F

    from binance_data_framework_spark.operators import text as TX
    from binance_data_framework_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (100001, "a a  b"),   # double space -> empty token
            (100002, ""),          # empty text -> one empty token
            (100003, "solo"),
            (100004, None),        # null text -> no rows on either path
        ],
        "doc_id bigint, text string",
    )
    both = docs.unionByName(edge)
    jvm = {
        (r["doc_id"], r["dl"], r["term"], r["tf"])
        for r in TX._doc_term_tf(both, "text", "doc_id").collect()
    }
    arrow = {
        (r["doc_id"], r["dl"], r["term"], r["tf"])
        for r in TX.doc_term_tf_arrow(both, "text", "doc_id").collect()
    }
    assert arrow == jvm and len(arrow) > 0
    assert not any(d == 100004 for d, *_ in arrow)  # null text: no rows


def test_corpus_drift_terms_surfaces_planted_shift(spark):
    """A term appearing ONLY in snapshot B (a planted boilerplate wave)
    must rank at the top by |drift| with a negative drift value (B-heavy);
    a perfectly balanced term contributes ~0 and stays out of a top-1
    cut; counts are exact and sides with absent terms coalesce to 0."""
    from binance_data_framework_spark.operators.text import corpus_drift_terms

    base = "alpha beta gamma delta"
    a = spark.createDataFrame(
        [(i, base) for i in range(20)], "doc_id bigint, text string"
    )
    b = spark.createDataFrame(
        [(100 + i, base + " spamtoken spamtoken") for i in range(20)],
        "doc_id bigint, text string",
    )
    out = corpus_drift_terms(a, b, k=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["term"] == "spamtoken"
    assert r["cnt_a"] == 0 and r["cnt_b"] == 40
    assert r["drift"] < 0  # B-heavy => ln(pA) - ln(pB) negative

    # balanced corpora: every drift is ~0 (smoothing only), top-k still
    # deterministic by (|drift|, term)
    flat = corpus_drift_terms(a, a.withColumn("doc_id", F.col("doc_id") + 500), k=4)
    rows = flat.collect()
    assert [x["term"] for x in rows] == ["alpha", "beta", "delta", "gamma"]
    assert all(abs(x["drift"]) < 1e-9 for x in rows)


def test_corpus_drift_between_docstore_versions(spark, tmp_path):
    """The production drift composition: corpus_drift_terms over two
    committed DocumentStore snapshots (time travel) — an ingested
    boilerplate wave shows up as the top drifted term between version
    N-1 and N, with no side tables or manual bookkeeping."""
    from binance_data_framework_spark.docstore import DocumentStore
    from binance_data_framework_spark.operators.text import corpus_drift_terms

    st = DocumentStore(spark, str(tmp_path / "docs"), n_shards=2)
    base = [(i, "alpha beta gamma delta epsilon") for i in range(10)]
    st.save_docs(spark.createDataFrame(base, "doc_id bigint, text string"))
    v1 = st._snapshot()["version"]
    wave = [(100 + i, "spamwave spamwave alpha beta") for i in range(10)]
    st.save_docs(spark.createDataFrame(wave, "doc_id bigint, text string"))
    v2 = st._snapshot()["version"]
    assert v2 > v1

    out = corpus_drift_terms(
        st.read_version(v1).select("doc_id", "text"),
        st.read_version(v2).select("doc_id", "text"),
        k=1,
    ).collect()
    assert out[0]["term"] == "spamwave"
    assert out[0]["cnt_a"] == 0 and out[0]["cnt_b"] == 20
    assert out[0]["drift"] < 0  # new-snapshot-heavy
