"""Text-analysis operators over the documents corpus.

North-star extensions (SURVEY.md §2b): token/term statistics, lexicon
sentiment, quality scoring, language-ID heuristic, token counting,
fingerprinting. All built-in column expressions / broadcast joins — the hot
path never leaves the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Tiny lexicons: driver-side constants, broadcast or folded into the plan.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2,
    "big": 1,
    "spark": 1,
    "vector": 1,
    "slow": -2,
    "small": -1,
    "dup": -1,
    "error": -2,
}

STOPWORDS = ("the", "a", "of", "and")

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-alphanumeric non-space symbols.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token statistics: counts, distinct counts, avg token length."""
    toks = tokens_col(text_col)
    n = F.size(toks).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))).cast("double")
            / n,
            6,
        ).alias("avg_token_len"),
    )


def term_frequency(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level term frequencies: explode + count — one shuffle keyed by
    term; map-side partial counts bound shuffle volume by vocab size."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def sentiment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicon: dict[str, int] | None = None,
) -> DataFrame:
    """Lexicon sentiment: tokenize → broadcast-join lexicon → per-doc sum
    (per the Spark sentiment-at-scale pattern, PAPERS.md). Docs with no
    lexicon hits score 0."""
    lex = lexicon or SENTIMENT_LEXICON
    # Tiny lexicon -> literal map folded into the plan: per-row aggregate over
    # the token array, no explode/join/shuffle at all. (For a large lexicon
    # the broadcast-join formulation applies; see git history.)
    lex_map = F.create_map(*[F.lit(x) for kv in lex.items() for x in kv])
    score = F.aggregate(
        tokens_col(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(F.element_at(lex_map, t), F.lit(0)),
    )
    return df.select(F.col(id_col), score.alias("sentiment"))


def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """The quality-signal column expressions (length, stopword ratio,
    repetition ratio — the standard pretraining-corpus filters) as reusable
    pure column math, composable into larger pipelines without a join."""
    toks = tokens_col(text_col)
    n = F.size(toks).cast("double")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    return {
        "n_tokens": F.size(toks).cast("long"),
        "stopword_ratio": F.round(stop_hits / n, 6),
        "distinct_ratio": F.round(distinct_ratio, 6),
        "quality": F.round(
            F.when(distinct_ratio < 0.3, F.lit(0.0))
            .when(n < 5, F.lit(0.0))
            .otherwise(F.least(F.lit(1.0), distinct_ratio + stop_hits / n)),
            6,
        ),
    }


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality signals per doc — see quality_exprs."""
    exprs = quality_exprs(text_col)
    return df.select(F.col(id_col), *[c.alias(name) for name, c in exprs.items()])


# marker-token sets per language for the n-gram-free language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "un"),
    "de": ("der", "die", "und", "ein"),
    "es": ("el", "la", "y", "un"),
}


def lang_pred_col(text_col: str = "text") -> Column:
    """Marker-token language-ID expression: argmax of per-language marker hit
    counts with alphabetical tie-break, 'und' when no markers hit."""
    toks = tokens_col(text_col)
    hits = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in sorted(hits, reverse=True):
        pred = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc language ID — see lang_pred_col."""
    return df.select(F.col(id_col), lang_pred_col(text_col).alias("pred_lang"))


def token_count_bpe(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Regex (BPE-ish) token count — whitespace count plus sub-token splits."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{TOKEN_PATTERN}', 0)"))
        .cast("long")
        .alias("bpe_tokens"),
    )


# PII patterns (applied in this order — specific before general so a match
# is never double-redacted). RE2/Java-regex common subset: no backrefs, no
# lookaround, \b is the ASCII word boundary in both engines.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"[0-9]+", "<NUM>"),
)


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Regex PII/numeral redaction — the scrubbing pass a pretraining
    pipeline runs before packing. Emails, IPv4 addresses, then bare digit
    runs are replaced by typed placeholders; ``n_redacted`` counts the
    matches each stage saw (counted on that stage's input, so an already-
    redacted span is never recounted). Pure ``regexp_replace`` /
    ``regexp_count`` column math — narrow, zero shuffle, stays in codegen."""
    redacted = F.col(text_col)
    n = F.lit(0).cast("long")
    for pat, repl in PII_PATTERNS:
        n = n + F.regexp_count(redacted, F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select(
        F.col(id_col),
        redacted.alias("redacted"),
        n.alias("n_redacted"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style intra-document repetition signals: the fraction of word
    bigrams belonging to the single most frequent bigram, and the fraction
    covered by ANY duplicated bigram (the standard cut features for
    boilerplate / degenerate-repetition filtering).

    Scale shape: entirely NARROW — bigrams are run-length-scanned inside a
    sorted per-doc array with one ``aggregate`` HOF, so a 100 TB corpus
    needs zero shuffle (vs the explode + two-level groupBy formulation,
    which shuffles every bigram occurrence). Two measured pitfalls shaped
    this plan (sf0.1): (1) the bigram build is ``zip_with(slice, slice)``
    — the ``transform(sequence, i -> element_at(toks, i))`` form is
    QUADRATIC per doc because ``element_at`` on an expression-built array
    is an O(n) walk per access (2.4 s -> 0.28 s build); (2) build /
    sort+scan / fractions are SEPARATE projections — inlining would
    re-evaluate the whole build+sort+scan once per output column (8.7 s
    before staging). Together: 8.7 s -> ~0.55 s."""
    toks = tokens_col(text_col)
    n_toks = F.size(toks)
    bigr = F.when(
        n_toks >= 2,
        F.zip_with(
            F.slice(toks, 1, n_toks - 1),
            F.slice(toks, 2, n_toks - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    zero = F.lit(0).cast("long")
    # run-length scan over the sorted bigram array: acc tracks the current
    # run and folds finished runs into top (longest) / dup (total length of
    # runs > 1). "" is a safe sentinel: a real bigram always contains a space.
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )
    def _step(acc, x):
        close_run = x != acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(close_run, F.lit(1).cast("long"))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.when(close_run, F.greatest(acc["top"], acc["run"]))
            .otherwise(acc["top"])
            .alias("top"),
            F.when(
                close_run & (acc["run"] > 1), acc["dup"] + acc["run"]
            )
            .otherwise(acc["dup"])
            .alias("dup"),
        )
    staged = df.select(F.col(id_col), bigr.alias("_bigr")).select(
        F.col(id_col),
        F.size("_bigr").cast("long").alias("_nb"),
        F.aggregate(
            F.array_sort(F.col("_bigr")),
            init,
            _step,
            lambda acc: F.struct(
                F.greatest(acc["top"], acc["run"]).alias("top"),
                (
                    acc["dup"]
                    + F.when(acc["run"] > 1, acc["run"]).otherwise(zero)
                ).alias("dup"),
            ),
        ).alias("_st"),
    )
    nb = F.col("_nb")
    frac = lambda c: F.when(nb > 0, F.round(c.cast("double") / nb, 6)).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    return staged.select(
        F.col(id_col),
        nb.alias("n_bigrams"),
        frac(F.col("_st")["top"]).alias("top_bigram_frac"),
        frac(F.col("_st")["dup"]).alias("dup_bigram_frac"),
    )


def _repetition_counts_batch():
    """Vectorized, exactly-equal implementation of the per-doc bigram
    counting inside ``repetition_stats``: (n_bigrams, longest-run length of
    any single bigram, total length of runs > 1) per document, one Arrow
    batch at a time.

    Why: the interpreted run-length HOF fold pays per-lambda-step dispatch
    per bigram — the honest (noop-write) scaling measurement put the HOF
    form at 17.7 s for 500k docs (BENCH_SCALING r6). This kernel computes
    the SAME integers with no hashing caveat at all: the batch's tokens
    factorize to exact integer codes (`pd.factorize` — a C hash table over
    the token strings), a bigram's identity is the exact pair of
    consecutive codes packed into one int64 (codes < len(tokens), so the
    pack cannot overflow or collide), and per-(doc, bigram) counts fall
    out of one lexsort + run-length scan. Fractions and rounding stay in
    the Spark projection, so oracle parity rides on integer equality only
    (pytest pins kernel ≡ HOF across the split-semantics edge cases).

    Split semantics replicated from the HOF form: str.split(' ') keeps
    empty tokens (doubled/leading/trailing spaces; '' is one empty
    token), docs with < 2 tokens have zero bigrams, and a null text
    behaves like '' (zero bigrams) — identical to the
    when(size >= 2, ...).otherwise(empty) staging."""

    @pandas_udf("nb long, top long, dup long")
    def kernel(texts: pd.Series) -> pd.DataFrame:
        n_docs = len(texts)
        if not n_docs:
            return pd.DataFrame({"nb": [], "top": [], "dup": []}, dtype="int64")
        filled = texts.fillna("")
        # one C-level split of the space-joined batch: the inter-doc
        # joiner is itself a space, so doc boundaries align with token
        # boundaries by construction
        toks = " ".join(filled).split(" ")
        n_toks = np.array([t.count(" ") + 1 for t in filled], dtype=np.int64)
        offsets = np.concatenate(([0], np.cumsum(n_toks)))
        codes, _ = pd.factorize(np.asarray(toks, dtype=object))
        codes = codes.astype(np.int64)
        T = len(codes)
        nb = np.maximum(n_toks - 1, 0)
        top = np.zeros(n_docs, dtype=np.int64)
        dup = np.zeros(n_docs, dtype=np.int64)
        if T >= 2:
            # bigram j pairs token j with j+1; mask the per-doc last token
            # (its pair would cross a doc boundary)
            valid = np.ones(T - 1, dtype=bool)
            ends = offsets[1:] - 1
            valid[ends[ends < T - 1]] = False
            # exact pack: codes < T, so code*T + code < T^2 + T << 2^63
            # for any Arrow batch size
            key = codes[:-1] * np.int64(T) + codes[1:]
            key = key[valid]
            doc_bi = np.repeat(
                np.arange(n_docs, dtype=np.int64), n_toks
            )[:-1][valid]
            order = np.lexsort((key, doc_bi))
            sk, sd = key[order], doc_bi[order]
        # tokens but no in-doc bigram (only '', null or one-token docs):
        # no runs to count, and run_starts' [0] would index an empty array
        if T >= 2 and len(sk):
            boundary = np.flatnonzero((sd[1:] != sd[:-1]) | (sk[1:] != sk[:-1]))
            run_starts = np.concatenate(([0], boundary + 1))
            run_lens = np.diff(np.concatenate((run_starts, [len(sk)])))
            run_doc = sd[run_starts]
            docs_with, first_idx = np.unique(run_doc, return_index=True)
            top[docs_with] = np.maximum.reduceat(run_lens, first_idx)
            dup[docs_with] = np.add.reduceat(
                run_lens * (run_lens > 1), first_idx
            )
        return pd.DataFrame({"nb": nb, "top": top, "dup": dup})

    return kernel


def repetition_stats_fast(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``repetition_stats`` with the per-doc bigram counting done by the
    vectorized Arrow kernel (see ``_repetition_counts_batch``); the
    fraction + rounding projection is the SAME Spark expression as the
    HOF form, so both paths share their float behavior exactly. Output
    schema and values are pinned equal to ``repetition_stats`` by
    pytest; the DuckDB oracle is unchanged."""
    staged = df.select(
        F.col(id_col), _repetition_counts_batch()(F.col(text_col)).alias("_st")
    )
    nb = F.col("_st")["nb"]
    frac = lambda c: F.when(nb > 0, F.round(c.cast("double") / nb, 6)).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    return staged.select(
        F.col(id_col),
        nb.alias("n_bigrams"),
        frac(F.col("_st")["top"]).alias("top_bigram_frac"),
        frac(F.col("_st")["dup"]).alias("dup_bigram_frac"),
    )


def _doc_term_tf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: tuple[str, ...] | None = None,
) -> DataFrame:
    """Shared (doc, dl, term) -> tf building block for the retrieval ops
    (tfidf / bm25 / unigram_logprob): explode tokens, optionally filter to
    a query-term set BEFORE the shuffle (only matching occurrences ever
    shuffle), then one (doc, dl, term)-keyed count. dl (doc length in
    tokens) rides the key — it is functionally dependent on the doc id,
    so it adds no groups. One definition keeps the three ops' tokenization
    and null handling in lockstep with each other and their oracles."""
    # dl is computed in the PRE-explode projection (on the materialized
    # token array), never alongside the exploded rows: projecting
    # size(split(text)) after a Generate re-splits the text once PER
    # TOKEN — measured 28 s vs 5 s for 27M occurrences at the 100x
    # fixture (r7; Catalyst does not CSE the split across the Generate
    # boundary)
    base = df.select(
        F.col(id_col),
        F.size(tokens_col(text_col)).cast("long").alias("dl"),
        tokens_col(text_col).alias("_toks"),
    )
    hits = base.select(id_col, "dl", F.explode("_toks").alias("term"))
    if terms is not None:
        hits = hits.where(F.col("term").isin(*terms))
    return hits.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))


def _split_batch(pdf, text_col: str):
    """Shared Arrow-kernel tokenization prelude: drop null-text rows (the
    JVM explode path emits no rows for them), split every text on the
    literal single space (str.split(" ") == Spark split(col, " ") ==
    DuckDB string_split — empty strings kept, empty text -> [""]), and
    return (pdf_nonnull, flat_token_array, per_doc_lens). Parity with the
    JVM tokenization is LOAD-BEARING (pytest-pinned in two kernels) —
    one definition keeps every Arrow kernel in lockstep (review r7 #7).
    flat/lens are None when the batch has no non-null rows."""
    import numpy as np

    pdf = pdf[pdf[text_col].notna()]
    if not len(pdf):
        return pdf, None, None
    toks_list = [t.split(" ") for t in pdf[text_col]]
    lens = np.fromiter((len(t) for t in toks_list), np.int64, len(toks_list))
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks_list])
    return pdf, flat, lens


def doc_term_tf_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, dl, term, tf) via a vectorized Arrow kernel — ROW-IDENTICAL
    to _doc_term_tf (pytest-pinned, tests/test_text_retrieval.py) at a
    fraction of its cost: the exploded-groupBy form pays a JVM hash
    aggregate over every token occurrence producing per-doc-vocab groups
    (measured 33 s for 27M occurrences / 11.6M groups at the 100x
    fixture; keying by xxhash64 instead of the string saved nothing —
    the aggregate itself is the cost), while this kernel counts each
    doc's terms inside one Arrow batch with factorize + np.unique
    (measured 5.8 s, same 11.6M output rows) and needs NO shuffle at all
    — the r6 token-hash playbook applied to term counting.

    Tokenization parity: str.split(" ") == Spark split(col, " ") ==
    DuckDB string_split (single-space literal split, empty strings kept,
    empty text -> [""]); null text emits no rows on both paths (Spark
    explode(null) drops the row)."""
    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pdf, flat, lens = _split_batch(pdf, text_col)
            if flat is None:
                continue
            doc_idx = np.repeat(np.arange(len(lens)), lens)
            codes, uniques = pd.factorize(pd.Series(flat), sort=False)
            vocab = np.asarray(uniques, dtype=object)
            key = doc_idx * len(vocab) + codes
            uk, counts = np.unique(key, return_counts=True)
            di = uk // len(vocab)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: ids[di],
                    "dl": lens[di],
                    "term": vocab[uk % len(vocab)],
                    "tf": counts.astype("int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        kernel, f"{id_col} {id_type}, dl bigint, term string, tf bigint"
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (smooth idf = ln((N+1)/(df+1))),
    rank ties broken by term. The classic relevance/keyword-extraction
    primitive over a corpus.

    Scale shape (r7 rewrite — VERDICT r6 #4): tf comes from the Arrow
    term-counting kernel (doc_term_tf_arrow — shuffle-free, ~6x the
    exploded-groupBy form at the 100x fixture) and is EAGER-checkpointed
    because both the df dictionary and the scoring join consume it under
    separate actions. The df join is SIZE-GATED (the unigram_logprob
    pattern): never force-broadcast — a web-scale corpus's term
    dictionary (typo tail included) can be executor-sized — but don't
    leave it to AQE either, which only converts the SortMergeJoin after
    the tf side's shuffle map write has already run (measured 90 s of
    182 s wasted on the unigram twin at the 5M-doc fixture). The
    dictionary is checkpointed, its row count (model-sized action) picks
    broadcast vs shuffle join. N is a 1-row broadcast cross join.
    Ranking windows are keyed by doc. Rank on the ROUNDED score so the
    ordering is reproducible across engines."""
    from pyspark.sql import Window

    tf = doc_term_tf_arrow(df, text_col, id_col).localCheckpoint(eager=True)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).localCheckpoint(
        eager=True
    )
    if df_t.count() <= 1_000_000:  # ~25 MB hashed relation — see unigram
        df_t = F.broadcast(df_t)
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "rank", "tfidf")
    )


def corpus_drift_terms(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Top-k terms by absolute distribution DRIFT between two corpus
    snapshots — the data-quality shift detector a continuously-ingested
    corpus needs (a crawler change, an injected boilerplate wave, or a
    contamination event shows up as a handful of terms whose frequency
    share moves, long before aggregate stats do). drift is the
    Laplace-smoothed log-probability ratio
    ln((cnt_a+1)/(tot_a+V)) - ln((cnt_b+1)/(tot_b+V)) over the UNION
    vocabulary (V), so terms absent from one side are first-class
    (the classic log-odds-with-prior monitor).

    Scale shape: one Arrow term-count pass per side (doc_term_tf_arrow —
    shuffle-free), one vocab-grain partial-aggregated groupBy each, a
    vocab-keyed full outer join, two 1-row scalar broadcasts (totals and
    V), and a global TakeOrderedAndProject for the top-k (map-side
    partial top-k — no unkeyed window, no full sort). Nothing is
    corpus-grain after the first pass. Deterministic: ties at equal
    |drift| break by term; drift rounded to 6 dp (oracle parity).

    The snapshot-vs-snapshot form; the streaming gate's monitoring leg
    (streaming/neardup_ingest.corpus_drift_report) persists one side as
    a vocab-grain baseline and calls drift_from_counts — the SAME
    arithmetic below, factored so the two paths cannot drift."""
    return drift_from_counts(
        corpus_term_counts(df_a, text_col, id_col, "cnt_a"),
        corpus_term_counts(df_b, text_col, id_col, "cnt_b"),
        k,
    )


def corpus_term_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "cnt",
) -> DataFrame:
    """(term, count) over a corpus: one shuffle-free Arrow term-count
    pass, then a vocab-grain partial-aggregated groupBy. Vocab-grain
    output (Heaps'-law sublinear in corpus size) — the persistable side
    of the drift monitor."""
    return (
        doc_term_tf_arrow(df, text_col, id_col)
        .groupBy("term")
        .agg(F.sum("tf").alias(out_col))
    )


def drift_from_counts(cnt_a: DataFrame, cnt_b: DataFrame, k: int = 20) -> DataFrame:
    """corpus_drift_terms' scoring half over two pre-computed (term,
    cnt_a)/(term, cnt_b) tables — shared by the snapshot form above and
    the gate's persisted-baseline monitor."""
    cnt_a = cnt_a.select("term", F.col(cnt_a.columns[-1]).alias("cnt_a"))
    cnt_b = cnt_b.select("term", F.col(cnt_b.columns[-1]).alias("cnt_b"))
    merged = (
        cnt_a.join(cnt_b, "term", "full_outer")
        .select(
            "term",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
        # referenced by the totals aggregate AND the scored projection —
        # one materialization instead of two term-count pipelines
        .localCheckpoint(eager=True)
    )
    totals = merged.agg(
        F.sum("cnt_a").alias("tot_a"),
        F.sum("cnt_b").alias("tot_b"),
        F.count(F.lit(1)).alias("v"),  # union vocabulary size
    )
    drift = F.round(
        F.log((F.col("cnt_a") + 1.0) / (F.col("tot_a") + F.col("v")))
        - F.log((F.col("cnt_b") + 1.0) / (F.col("tot_b") + F.col("v"))),
        6,
    )
    return (
        merged.crossJoin(F.broadcast(totals))
        .select("term", "cnt_a", "cnt_b", drift.alias("drift"))
        .orderBy(F.abs(F.col("drift")).desc(), F.col("term"))
        .limit(k)
    )


def bm25_search(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval: rank documents against a bag-of-words query,
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)). Returns the top-k matching
    docs (≥1 query-term hit), score ties broken by doc_id.

    Scale shape: the per-term filter runs BEFORE the (doc, term) shuffle —
    only query-term occurrences ever shuffle, everything else dies in the
    scan stage. df per query term and the corpus (N, avgdl) scalars are
    broadcast; the final top-k is a sort of the tiny matched set."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens_col(text_col)
    hits = _doc_term_tf(df, text_col, id_col, terms=tuple(query_terms))
    df_t = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    term_score = idf * (
        tfd * (k1 + 1.0)
        / (tfd + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        hits.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the CCNet-style perplexity proxy used to quality-rank
    crawl text (a doc of globally-rare tokens scores low, formulaic
    boilerplate scores high). No OOV smoothing needed: every token's
    corpus frequency is ≥ 1 by construction.

    Scale shape (r7, second pass): tf comes from the Arrow term-counting
    kernel (doc_term_tf_arrow — shuffle-free; the exploded-groupBy form's
    per-doc-vocab JVM hash aggregate measured 33 s on its own at the 100x
    fixture) and is eager-checkpointed because the LM aggregate and the
    scoring join both consume it (a lazy checkpoint recomputes upstream
    per consumer within the first action — r6 lesson). The LM join is a
    SIZE-GATED term-keyed equi-join (the dedup hybrid-scorer precedent):
    the LM dictionary is eager-checkpointed, its row count (a model-sized
    action on the already-materialized 2-column dictionary) picks the
    join strategy. An unconditionally forced broadcast is wrong at crawl
    scale — vocab grows with the corpus (Heaps' law; with the typo tail a
    web-scale LM can be executor-sized) — but leaving the choice to AQE
    is not free either: AQE only converts the SortMergeJoin AFTER the tf
    side's shuffle map write has already run, and that wasted write
    measured 90 s of 182 s at the 5M-doc fixture (the explicit-broadcast
    plan ran 116 s against the same data). The explicit runtime gate
    takes the broadcast whenever the dictionary is genuinely bounded and
    falls back to the shuffle join when it is not — adaptive like AQE,
    without paying the left side's map write to find out. Joining at tf
    grain instead of occurrence grain also shrinks the join input from
    one row per token to one per distinct (doc, term). The total-token
    count stays a 1-row broadcast cross join; the corpus is scanned,
    never collected. Rounded at 6 dp; the tf-weighted sum is the
    oracle's own form."""
    toks = tokens_col(text_col)
    tf = doc_term_tf_arrow(df, text_col, id_col).localCheckpoint(eager=True)
    freqs = tf.groupBy("term").agg(F.sum("tf").alias("freq")).localCheckpoint(
        eager=True
    )
    # ~1M rows x ~25 B of (term, freq) ~ 25 MB hashed relation — inside
    # the comfortable executor-broadcast envelope; beyond it, shuffle
    model = F.broadcast(freqs) if freqs.count() <= 1_000_000 else freqs
    total = df.agg(F.sum(F.size(toks)).cast("double").alias("total_tokens"))
    return (
        tf.join(model, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col, "dl")
        .agg(
            F.round(
                F.sum(
                    F.col("tf").cast("double")
                    * F.log(F.col("freq").cast("double") / F.col("total_tokens"))
                )
                / F.col("dl"),
                6,
            ).alias("avg_logprob")
        )
        .select(F.col(id_col), F.col("dl").alias("n_tokens"), "avg_logprob")
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic 64-bit-ish document fingerprint (sha2 prefix) for
    dedup bookkeeping and stable sampling."""
    return df.select(
        F.col(id_col),
        F.substring(F.sha2(F.col(text_col), 256), 1, 16).alias("fingerprint"),
    )
