"""Deduplication operators for large-scale corpus curation.

Extension mandated by the north star (SURVEY.md §2b): exact hash dedup,
MinHash-LSH near-dedup, and SimHash fingerprints — each expressed as pure
DataFrame plans (no driver-side loops, no O(n^2) self-joins):

- exact: group/window on a content hash — one shuffle keyed by the 256-bit
  hash, so skew is impossible and the reducer state per key is one row.
- MinHash: k independent hash functions realized as xxhash64(seed, shingle);
  per-doc signature = k per-seed mins computed in ONE aggregation pass over
  exploded shingles (k agg exprs, map-side partial min).
- LSH banding: signature split into bands; candidate pairs = docs sharing a
  (band_idx, band_hash) bucket — an equi-join on the band key, linear-ish in
  output size instead of the n^2 cross product. Verification re-checks
  estimated Jaccard from full signatures.
- SimHash: 64-bit fingerprint; near-dup candidates share one of 4 16-bit
  chunks (Hamming<=3 within 64 bits guarantees >=1 identical chunk by
  pigeonhole) — again an equi-join, then exact Hamming verification with
  bit_count(xor).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StructField, StructType

from binance_data_framework_spark.materialize import checkpoint_observed


def content_hash(col: Column | str) -> Column:
    """256-bit content hash (collision-safe at 100 TB row counts)."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct content hash (deterministic winner
    — plain dropDuplicates keeps an arbitrary shuffle-order row)."""
    w = Window.partitionBy(content_hash(text_col)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


#: character classes shared VERBATIM by the Spark expression and the DuckDB
#: oracle. Every member is an explicit codepoint — no \\s shorthand, because
#: Java's non-UNICODE \\s includes U+000B while RE2's excludes it (ADVICE r12
#: low), so the shorthand silently means different sets in the two engines.
#: ASCII whitespace is spelled out ([ \\t\\n\\x0B\\f\\r]), followed by the
#: common Unicode spaces neither engine's \\s covers, then the four ASCII
#: punctuation ranges. Kept as data so the oracle cannot drift.
NORM_WS_CLASS = (
    "[ \\t\\n\\x0B\\f\\r   - ​    　]+"
)
NORM_PUNCT_CLASS = "[!-/:-@\\[-`{-~]"


def normalize_text(col: Column | str) -> Column:
    """CCNet/Dolma-style content normalization for dedup keys: lowercase,
    fold every digit to '0', strip ASCII punctuation, collapse Unicode
    whitespace runs to one space, trim. Two documents differing only in
    case, punctuation, numbering, or spacing normalize to the same key —
    the standard pre-hash canonicalization in LLM-pipeline exact dedup
    (CCNet's deduplication normalizer; Dolma's exact dedupers apply the
    same class of folds). A narrow per-row projection: no UDF, no shuffle,
    whole-stage codegen."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, "[0-9]", "0")
    c = F.regexp_replace(c, NORM_PUNCT_CLASS, "")
    c = F.regexp_replace(c, NORM_WS_CLASS, " ")
    return F.trim(c)


def dedup_exact_norm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on NORMALIZED content (VERDICT r11 #5): dedup_exact's
    hash/window over normalize_text(text) instead of the raw bytes — the
    standard first pass of an LLM training-data pipeline, catching the
    trivially-reformatted duplicates (case, punctuation, digit, spacing
    variants) raw hashing misses. Same scale shape as dedup_exact: one
    shuffle keyed by the 256-bit hash of the normalized text, lowest-id
    winner."""
    w = Window.partitionBy(content_hash(normalize_text(text_col))).orderBy(
        id_col
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles of a whitespace-tokenized text column.

    Built from n-1 zip_with passes over shifted copies of the token array —
    O(n_tokens) total. (A transform-over-indices + slice formulation is
    O(n_tokens^2) in Spark's interpreted higher-order functions and showed up
    as the single hottest expression in the dedup bench.) Docs with fewer
    than n tokens yield their whole text as one shingle.
    """
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, sz)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return F.when(sz >= n, full).otherwise(F.array(F.array_join(toks, " ")))


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) computed per-row with array
    higher-order functions — NO explode, NO shuffle.

    Each hash_i(s) = xxhash64(i, s); signature_i = array_min over the doc's
    shingle array. An earlier formulation exploded shingles and grouped by
    doc (one shuffle of n_shingles rows per doc); the per-row form does the
    same work embarrassingly parallel in a single narrow stage — the right
    shape for a 100 TB corpus.
    """
    sh = shingles(text_col, shingle_n)
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(2147483648)))
    return _sig_from_h31(df, base, id_col, num_hashes)


def _sig_from_h31(
    df: DataFrame, h31_expr: Column, id_col: str, num_hashes: int
) -> DataFrame:
    """Signature slots from a 31-bit base-hash array: slot_i = min over
    shingles of (a_i*h + b_i) mod (2^31-1), with a DISTINCT multiplier per
    slot (universal-hash family; 31-bit operands keep every product
    int64-safe under ANSI mode). Hash the shingles ONCE into a checkpointed
    array, then run num_hashes cheap arithmetic passes — the
    one-pass-per-slot formulation re-evaluated the shingle construction and
    string hashing num_hashes times (no cross-expression CSE in Catalyst's
    interpreted HOFs) and measured ~4x slower at sf0.1.

    Two traps this code dodges, regression-tested by
    test_minhash_slots_are_independent: (1) a `lambda s, i=i:` HOF lambda
    has two parameters, which PySpark interprets as (element, index) — the
    "seed" silently becomes the shingle's ARRAY POSITION, identical for
    every slot, collapsing all slots to one hash function (est_jaccard
    degenerates to {0,1}); constants are bound OUTSIDE single-parameter
    lambdas instead. (2) a shared multiplier with per-slot offsets would
    make every slot pick the same argmin shingle — same degeneracy."""
    h31 = df.select(F.col(id_col), h31_expr.alias("_h31")).localCheckpoint(
        eager=False
    )

    def _slot(i: int) -> Column:
        a, b = F.lit(2654435761 + 2 * i), F.lit(40503 * i + 1)
        return F.array_min(
            F.transform(F.col("_h31"), lambda x: F.pmod(x * a + b, F.lit(2147483647)))
        )

    sig = F.array(*[_slot(i) for i in range(num_hashes)])
    return h31.select(F.col(id_col), sig.alias("sig"))


def _token_hashes31_batch():
    """Vectorized, bit-identical implementation of
    ``transform(split(text, ' '), portable_shingle_hash31)``: one Arrow
    batch at a time, the WHOLE batch's code points are folded with a
    segmented Horner scan in numpy int64 (loop over max token length, not
    over tokens or characters — ~36 vector steps for the whole batch).

    Why: the interpreted-HOF per-character fold is the dedup tier's cost
    floor (measured 14 s for ~25M tokens at the 500k-doc fixture; the HOF
    interpreter pays per-lambda-step dispatch). This kernel does the SAME
    integer arithmetic — (h*31+c) mod (2^31-1) and (h*37+c) mod
    2147483629 per code point, combined as (h1*2654435761 + h2) mod 2^31
    — entirely in numpy C loops, bit-for-bit equal (pytest pins equality
    against the HOF form; the DuckDB oracles are unchanged).

    Exact split semantics replicated: str.split(' ') keeps empty tokens
    for doubled/leading/trailing spaces (as Spark's split-on-literal
    does), '' yields one empty token, and empty tokens keep the (7,7)
    init state. Code points come from utf-32-le (= ord(c), what ascii()
    returns per character)."""
    M1, M2 = 2147483647, 2147483629

    @pandas_udf("array<long>")
    def kernel(texts: pd.Series) -> pd.Series:
        h1, h2, offsets, isnull = _batch_token_h1h2(texts)
        th = (h1 * 2654435761 + h2) % 2147483648
        # slice back per doc: doc i owns (tokens-in-doc-i) consecutive entries
        out = [th[offsets[i]: offsets[i + 1]] for i in range(len(texts))]
        for i in np.flatnonzero(isnull):  # null text -> null array (HOF parity)
            out[i] = None
        return pd.Series(out, dtype=object)

    return kernel


def _batch_token_h1h2(texts: pd.Series):
    """Shared segmented-Horner core: (h1, h2) polynomial hashes of EVERY
    token of the batch (in doc order), per-doc offsets, and the null mask.
    Token boundaries come from splitting the space-joined batch stream —
    the inter-doc joiner is itself a space, so doc boundaries align with
    token boundaries by construction; empty tokens (doubled/leading/
    trailing spaces, empty text) are zero-length segments that keep the
    (7, 7) init state, exactly as the HOF fold."""
    M1, M2 = 2147483647, 2147483629
    isnull = texts.isna().to_numpy()
    joined = " ".join(texts.fillna(""))
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    spaces = np.flatnonzero(codes == 32)
    starts = np.concatenate(([0], spaces + 1))
    ends = np.concatenate((spaces, [len(codes)]))
    lens = ends - starts
    h1 = np.full(len(starts), 7, dtype=np.int64)
    h2 = np.full(len(starts), 7, dtype=np.int64)
    if len(lens) and lens.max() > 0:
        for k in range(int(lens.max())):
            m = lens > k
            c = codes[starts[m] + k]
            h1[m] = (h1[m] * 31 + c) % M1
            h2[m] = (h2[m] * 37 + c) % M2
    n_toks = np.array([t.count(" ") + 1 for t in texts.fillna("")], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(n_toks)))
    return h1, h2, offsets, isnull


def simhash_portable_batch(bits: int = 62):
    """Vectorized, bit-identical implementation of
    ``simhash_signature(df, bits=62, token_hash=portable_token_hash)``:
    token hashes via the shared segmented-Horner core (62-bit pack
    h1*2^31 + h2), then the per-bit majority popcount for the WHOLE batch
    at once — bit extraction is one shift/mask broadcast, per-doc bit
    sums are one ``np.add.reduceat`` over the doc offsets, and the
    majority bits pack back with one shift-sum. Replaces ~bits x tokens
    interpreted lambda steps per doc (the honest noop-write measurement
    put the HOF form at 66 s for 500k docs — see BENCH_SCALING r6);
    parity with the HOF form is pytest-pinned and the DuckDB oracle is
    unchanged."""

    @pandas_udf("long")
    def kernel(texts: pd.Series) -> pd.Series:
        if not len(texts):
            return pd.Series([], dtype=object)
        h1, h2, offsets, isnull = _batch_token_h1h2(texts)
        th = h1 * 2147483648 + h2  # 62-bit pack, always >= 0
        n = np.diff(offsets)
        sim = np.zeros(len(texts), dtype=np.int64)
        # per-bit pass with an O(tokens) transient — a (tokens x bits)
        # broadcast matrix is ~500 B/token and OOMs a Python worker on
        # long-document batches (10M tokens -> ~5 GB; review r6b #4)
        for b in range(bits):
            counts = np.add.reduceat((th >> b) & 1, offsets[:-1])
            sim |= (counts * 2 > n).astype(np.int64) << b
        out = [None if isnull[i] else int(sim[i]) for i in range(len(texts))]
        return pd.Series(out, dtype=object)

    return kernel


def minhash_signature_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Engine-portable MinHash signatures via ONE vectorized Arrow kernel
    (r7): token hashes from the shared segmented-Horner core
    (_batch_token_h1h2), the shingle fold as shingle_n-1 shifted vector
    Horner steps over the whole batch's flat token stream (doc boundaries
    masked by index selection, exactly as _substring_spans), short-doc
    (< shingle_n tokens) folds seeded with 7 over all tokens, then every
    slot min as one (a_i*g + b_i) % M broadcast + np.minimum.reduceat
    over the per-doc gram offsets. Bit-identical to the interpreted-HOF
    form it replaces — minhash_signature_portable_hof below is kept as
    the pinned reference (pytest asserts row-identical signatures,
    including null/empty/short-doc edges) and the DuckDB oracles replay
    the same arithmetic unchanged. Measured at the 500k-doc fixture the
    HOF shingle fold + 16 interpreted slot passes were the dedup tier's
    remaining cost floor after the r6 token-hash kernel.

    Why portable at all: DuckDB reproduces the 31-bit arithmetic with
    list lambdas, which is what lets the driver hash-match the full
    MinHash+LSH pipeline. Production uses minhash_signature (same
    structure, JVM-native xxhash64 base)."""
    M1, P = 2147483647, 1000003

    @pandas_udf("array<long>")
    def kernel(texts: pd.Series) -> pd.Series:
        if not len(texts):
            return pd.Series([], dtype=object)
        h1, h2, offsets, isnull = _batch_token_h1h2(texts)
        th = (h1 * 2654435761 + h2) % 2147483648
        lens = np.diff(offsets)
        n_tok = len(th)
        # windowed shingle fold across the flat stream (cross-doc windows
        # computed but never selected)
        if n_tok >= shingle_n:
            w = th[: n_tok - shingle_n + 1].copy()
            for k in range(1, shingle_n):
                w = (w * P + th[k : n_tok - shingle_n + 1 + k]) % M1
        else:
            w = np.empty(0, dtype=np.int64)
        is_short = lens < shingle_n
        counts = np.where(is_short, 1, np.clip(lens - shingle_n + 1, 1, None))
        # short docs: ONE shingle = Horner fold of all token hashes, init 7
        short_idx = np.flatnonzero(is_short)
        sh = np.full(len(lens), 7, dtype=np.int64)
        max_short = int(lens[short_idx].max()) if len(short_idx) else 0
        doc_starts = offsets[:-1]
        for k in range(max_short):
            m = short_idx[lens[short_idx] > k]
            sh[m] = (sh[m] * P + th[doc_starts[m] + k]) % M1
        goff = np.concatenate(([0], np.cumsum(counts)))
        grams = np.empty(int(goff[-1]), dtype=np.int64)
        full_idx = np.flatnonzero(~is_short)
        if len(full_idx):
            cnts = counts[full_idx]
            rep = np.repeat(np.arange(len(full_idx)), cnts)
            cum = np.concatenate(([0], np.cumsum(cnts)[:-1]))
            pos = np.arange(int(cnts.sum())) - np.repeat(cum, cnts)
            grams[goff[full_idx][rep] + pos] = w[
                doc_starts[full_idx][rep] + pos
            ]
        grams[goff[short_idx]] = sh[short_idx]
        sig = np.empty((len(lens), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            v = (grams * (2654435761 + 2 * i) + (40503 * i + 1)) % M1
            sig[:, i] = np.minimum.reduceat(v, goff[:-1])
        out = [sig[i].tolist() for i in range(len(texts))]
        for i in np.flatnonzero(isnull):
            # HOF parity: null text -> an array of num_hashes NULL slots
            out[i] = [None] * num_hashes
        return pd.Series(out, dtype=object)

    return df.select(
        F.col(id_col), kernel(F.col(text_col)).alias("sig")
    )


def minhash_signature_portable_hof(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The interpreted-HOF portable-signature form the Arrow kernel
    replaced — kept as the pin-test reference (exact arithmetic spec).

    The shingle hash is TOKEN-level: each token is polynomial-hashed once
    (portable_shingle_hash31) and a shingle's hash is the Horner fold of
    its n consecutive token hashes mod 2^31-1. Hashing the materialized
    "tok tok tok" shingle strings instead re-ran the per-character
    polynomial over every token n times AND paid substr's O(position)
    scan per character of the longer string — the token-level form
    measured ~3x faster at sf0.1 with identical cross-engine semantics.
    Docs with fewer than shingle_n tokens fold ALL their token hashes
    into one shingle (init 7, same Horner step).

    The token-hash array is checkpointed BEFORE the shingle fold: the
    zip_with chain + short-doc branch reference it ~shingle_n times, and
    Catalyst's interpreted HOFs do no common-subexpression elimination —
    folding over the raw transform expression re-ran the per-character
    polynomial per reference and gave the 3x back (measured)."""
    thdf = df.select(
        F.col(id_col),
        _token_hashes31_batch()(F.col(text_col)).alias("_th"),
    ).localCheckpoint(eager=False)
    th = F.col("_th")
    sz = F.size(th)
    m, p = F.lit(2147483647), F.lit(1000003)

    def _horner(a: Column, b: Column) -> Column:
        return F.pmod(a * p + b, m)

    grams = th
    for k in range(1, shingle_n):
        grams = F.zip_with(grams, F.slice(th, k + 1, sz), _horner)
    full = F.slice(grams, 1, F.greatest(sz - (shingle_n - 1), F.lit(0)))
    short = F.array(F.aggregate(th, F.lit(7).cast("long"), _horner))
    base = F.when(sz >= shingle_n, full).otherwise(short)
    return _sig_from_h31(thdf, base, id_col, num_hashes)


_BUCKET_HOF_CAP = 512  # docs per bucket above which the chunked numpy kernel runs


def _minhash_bucket_plan(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
    band_on_slice: bool = False,
    num_hashes: int = 16,
) -> DataFrame:
    """The UN-checkpointed bucket pipeline behind minhash_candidates:
    validate banding params, explode each (id, sig) into its band keys,
    group by band key into candidate buckets (>= 2 members). Split out so
    the lineage stays lintable after minhash_candidates eager-checkpoints
    it (tests/test_plans.py)."""
    _validate_banding(num_bands, num_hashes)
    banded = _band_explode(sigs, id_col, num_bands, band_on_slice, num_hashes)
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list(F.struct("_i", "_s")).alias("_arr"))
        .where(F.size("_arr") >= 2)
    )


def _validate_banding(num_bands: int, num_hashes: int) -> None:
    if num_bands <= 0 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_bands={num_bands} must be a positive divisor of "
            f"num_hashes={num_hashes} (equal bands, no empty slices)"
        )


def _band_explode(
    sigs: DataFrame,
    id_col: str,
    num_bands: int,
    band_on_slice: bool,
    num_hashes: int,
) -> DataFrame:
    """One (_i, _s, band_idx, band_hash) row per (doc, band) — the shared
    band-key arithmetic (slot slice or its xxhash64) plus the unprunable
    runtime signature-width assert (a sigs frame generated with a
    different num_hashes would either drop trailing slots — recall loss —
    or band on empty slices: one constant key => the O(n²) join banding
    exists to avoid; assert_true lives inside the band-key expression so
    Catalyst cannot prune it). Factored out so the self-join bucket plan
    and the cross-corpus join key bands IDENTICALLY (a drifted copy would
    silently miss every cross match)."""
    rows_per_band = num_hashes // num_bands
    slice_of = lambda b: F.slice("sig", b * rows_per_band + 1, rows_per_band)  # noqa: E731
    band_key = (
        (lambda b: slice_of(b)) if band_on_slice else (lambda b: F.xxhash64(slice_of(b)))
    )
    sig_len_ok = F.assert_true(
        F.size("sig") == num_hashes,
        F.concat(
            F.lit(f"minhash banding: signature width != num_hashes={num_hashes}: "),
            F.size("sig").cast("string"),
        ),
    )
    return sigs.select(
        F.col(id_col).alias("_i"),
        F.col("sig").alias("_s"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.when(sig_len_ok.isNull(), band_key(b)),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
    threshold: float = 0.5,
    band_on_slice: bool = False,
    num_hashes: int = 16,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard >= threshold) via LSH
    banding over MinHash signatures. ``band_on_slice`` keys the band join
    on the raw slot slice (array equality — collision-free and
    engine-portable for the oracle-checked variant) instead of its xxhash64
    (bare-long band keys, the slimmest shuffle — production default).

    ``num_hashes`` must match the signature generator's slot count and be
    divisible by ``num_bands``: unequal bands would silently drop trailing
    slots (recall loss), and num_bands > num_hashes would give EVERY doc a
    zero-length band slice — one constant band key, turning the band
    self-join into the full O(n²) cross product banding exists to avoid."""
    # Score INSIDE the band bucket (r6 rewrite, the same lesson as the
    # blocked k-NN kernel): each doc's (id, sig) is exploded num_bands ways
    # and grouped by band key; every bucket generates its candidate pairs
    # AND their est_jaccard from the grouped array directly. The signature
    # frame is therefore referenced exactly ONCE — the earlier bare-key
    # self-join + two sig join-backs referenced it four times, and lazy
    # checkpoints don't help the FIRST action: the self-join's two map
    # stages are independent, run concurrently, and each recomputed the
    # full signature pipeline (the dominant cost of the whole dedup tier —
    # measured ~2x the signature wall-clock at the 500k-doc fixture).
    # Shuffle bytes are num_bands * (sig + id) per doc — linear in the
    # corpus, independent of pair count.
    #
    # TWO scoring paths by bucket size (both measured, code-review r6):
    # - small buckets (the overwhelming majority under sane banding) score
    #   with a nested-array HOF entirely in the JVM — a per-bucket Python
    #   kernel (applyInPandas) was measured 10x slower at sf0.1 purely on
    #   per-tiny-group invocation overhead, and the HOF pair array is
    #   bounded by CAP^2/2 elements per row;
    # - LARGE buckets (> _BUCKET_HOF_CAP docs — boilerplate-identical
    #   cliques, hot band slices) go through a CHUNKED numpy mapInPandas:
    #   the HOF form would materialize the bucket's full O(B^2) pair array
    #   as ONE row value before exploding (an executor-OOM at B~100k),
    #   while the chunked kernel keeps peak memory O(chunk x B) int32 and
    #   only ever materializes threshold-PASSING pairs — output-sized,
    #   like the old join form's spillable output.
    # Pair ids are strictly ordered (id_a < id_b by VALUE), so duplicate
    # input ids can never emit a self-pair on either path. Pairs colliding
    # in several bands carry the same deterministic est value, so the
    # cross-band dropDuplicates keeps an arbitrary-but-identical row; est
    # is computed as eq_slots/num_hashes on both paths (bit-identical to
    # the SQL oracle's arithmetic).
    lazy_buckets = _minhash_bucket_plan(
        sigs, id_col, num_bands, band_on_slice, num_hashes
    )
    # EAGER: both size paths reference the buckets under ONE unioned
    # action, and a lazy checkpoint does not dedupe references within the
    # first action (the module's own first-action lesson; ADVICE r6) — the
    # collect_list agg would run twice (exchange reuse covers the shuffle,
    # not the agg). The checkpoint truncates the committed plan, so the
    # UN-checkpointed bucket lineage is linted separately
    # (tests/test_plans.py::test_minhash_bucket_pipeline_lineage_is_clean
    # via _minhash_bucket_plan).
    buckets = lazy_buckets.localCheckpoint(eager=True)
    id_type = sigs.schema[id_col].dataType.simpleString()
    nh = float(num_hashes)
    out_schema = f"id_a {id_type}, id_b {id_type}, est_jaccard double"

    arr = F.col("_arr")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),  # slice clamps at the end
                lambda y: F.struct(
                    F.least(x["_i"], y["_i"]).alias("id_a"),
                    F.greatest(x["_i"], y["_i"]).alias("id_b"),
                    (
                        F.aggregate(
                            F.zip_with(
                                x["_s"], y["_s"], lambda p, q: (p == q).cast("int")
                            ),
                            F.lit(0),
                            lambda acc, v: acc + v,
                        )
                        / F.size(x["_s"])
                    ).alias("est_jaccard"),
                ),
            ),
        )
    )
    small_pairs = (
        buckets.where(F.size(arr) <= _BUCKET_HOF_CAP)
        .select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p.est_jaccard")
        .where(
            (F.col("est_jaccard") >= threshold)
            & (F.col("id_a") != F.col("id_b"))
        )
    )

    def _big_bucket_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for arr_rows in pdf["_arr"]:
                ids = np.array([r["_i"] for r in arr_rows])
                S = np.array([list(r["_s"]) for r in arr_rows])
                n = len(ids)
                chunk = 512
                for lo in range(0, n, chunk):
                    hi = min(lo + chunk, n)
                    eq = np.zeros((hi - lo, n), dtype=np.int32)
                    for s in range(S.shape[1]):  # slot loop keeps temps 2-D
                        eq += S[lo:hi, s, None] == S[None, :, s]
                    est = eq / nh  # same arithmetic as the SQL oracle
                    keep = (est >= threshold) & (ids[None, :] > ids[lo:hi, None])
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        yield pd.DataFrame(
                            {
                                "id_a": ids[lo:hi][ai],
                                "id_b": ids[bi],
                                "est_jaccard": est[ai, bi],
                            }
                        )

    large_pairs = buckets.where(F.size(arr) > _BUCKET_HOF_CAP).mapInPandas(
        _big_bucket_pairs, out_schema
    )
    return small_pairs.unionByName(large_pairs).dropDuplicates(["id_a", "id_b"])


def minhash_cross_candidates(
    sigs_train: DataFrame,
    sigs_eval: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
    threshold: float = 0.5,
    band_on_slice: bool = False,
    num_hashes: int = 16,
) -> DataFrame:
    """CROSS-corpus near-duplicate pairs — the document-level
    decontamination primitive: (train_id, eval_id, est_jaccard >=
    threshold) for every training document that near-duplicates an
    eval/benchmark document. The n-gram containment form (decontaminate)
    catches verbatim spans; this catches whole-document paraphrase-level
    overlap at the same MinHash arithmetic the in-corpus dedup tier uses,
    so "near-duplicate" means the same thing within a corpus and across
    corpora.

    Scale shape: the eval side is benchmark-sized by nature (10^3-10^6
    docs vs a 100 TB train corpus), so its exploded bands BROADCAST —
    the train corpus is touched by exactly ONE narrow pass (signature
    projection -> band explode -> broadcast-hash-join on the band key),
    no shuffle of the train side at all, and candidate verification
    happens on the joined row (both signatures already co-located —
    nothing re-joins the corpus per pair). Both sides key their bands via
    the SAME _band_explode arithmetic as minhash_candidates, so in-corpus
    and cross-corpus agree on what collides."""
    _validate_banding(num_bands, num_hashes)
    bt = _band_explode(sigs_train, id_col, num_bands, band_on_slice, num_hashes)
    be = _band_explode(sigs_eval, id_col, num_bands, band_on_slice, num_hashes)
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_s"), F.col("_se"), lambda p, q: (p == q).cast("int")
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    return (
        bt.join(
            F.broadcast(
                be.select(
                    "band_idx",
                    "band_hash",
                    F.col("_i").alias("_ie"),
                    F.col("_s").alias("_se"),
                )
            ),
            on=["band_idx", "band_hash"],
        )
        # a pair colliding in several bands carries the same deterministic
        # est — keep one row per (train, eval) before scoring
        .dropDuplicates(["_i", "_ie"])
        .select(
            F.col("_i").alias("train_id"),
            F.col("_ie").alias("eval_id"),
            est.alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_bands(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, band_idx, band_hash) — one row per (doc, band), with the SAME
    banding arithmetic as ``minhash_candidates``'s production path
    (xxhash64 over the band's slot slice), exposed standalone so an
    INCREMENTAL consumer (the streaming near-dup gate's persisted band
    index) keys new documents identically across batches and sessions.
    Validation mirrors minhash_candidates: divisibility at plan time plus
    the unprunable runtime signature-width assert."""
    if num_bands <= 0 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_bands={num_bands} must be a positive divisor of "
            f"num_hashes={num_hashes} (equal bands, no empty slices)"
        )
    rows_per_band = num_hashes // num_bands
    sig_len_ok = F.assert_true(
        F.size("sig") == num_hashes,
        F.concat(
            F.lit(f"minhash_bands: signature width != num_hashes={num_hashes}: "),
            F.size("sig").cast("string"),
        ),
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.when(
                    sig_len_ok.isNull(),
                    F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band)),
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def dedup_near_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Drop near-duplicates: a doc is removed if a lower-id doc is a
    near-duplicate (single-link via direct pairs; full connected components
    would iterate min-label propagation — see cluster_min_label)."""
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    pairs = minhash_candidates(sigs, id_col, num_bands, threshold, num_hashes=num_hashes)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def _poly_fold(t: Column, finish) -> Column:
    """Both 31-bit polynomial rolling hashes over the string's code points
    (mod the Mersenne prime 2^31-1 and its neighbor) in ONE fold, combined
    by ``finish(h1, h2)`` — the engine-portable hash primitive:
    pure int64 arithmetic + HOFs, so ANY SQL engine with list lambdas
    (DuckDB list_transform/list_reduce) computes bit-identical values.
    Exists for cross-engine verifiability, not raw speed (production paths
    use xxhash64, JVM-native) — but its cost profile still matters because
    the oracle-checked dedup tier hashes every token of the corpus:

    - chars come from ``split(t, '')`` (one O(len) pass), not per-index
      ``substr`` — substr re-scans from the string head per character,
      making the old form O(len²) per token;
    - h1 and h2 ride ONE int64 accumulator (h1 packed above bit 31, h2
      below — both stay < 2^31, so the pack is lossless and every
      intermediate fits int64) through a SINGLE aggregate, with the
      combine applied as the aggregate's finish lambda. The two-aggregate
      form built and walked the char array twice (interpreted HOFs get no
      CSE); a struct accumulator folds once but allocates a struct per
      character — the packed form is plain long arithmetic (shift/mask),
      measured fastest of the three.
    Together ~1.6x on the 500k-doc fixture's token-hash pass (BENCH_SCALING
    r6). Values are bit-identical to the old form (verified element-wise;
    the DuckDB oracles replay the same arithmetic unchanged)."""
    chars = F.when(
        F.length(t) > 0,
        F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    init = (F.lit(7) * F.lit(2147483648) + F.lit(7)).cast("long")

    def step(a: Column, c: Column) -> Column:
        hi = F.shiftright(a, 31)
        lo = a.bitwiseAND(F.lit(2147483647))
        return F.shiftleft(
            F.pmod(hi * F.lit(31) + c, F.lit(2147483647)), 31
        ) + F.pmod(lo * F.lit(37) + c, F.lit(2147483629))

    return F.aggregate(
        chars,
        init,
        step,
        lambda a: finish(F.shiftright(a, 31), a.bitwiseAND(F.lit(2147483647))),
    )


def portable_token_hash(t: Column) -> Column:
    """Engine-portable 62-bit token hash (see _poly_fold), packed as
    hi*2^31 + lo — what lets the driver hash-match the whole simhash fold
    against an independent engine (production simhash stays xxhash64)."""
    return _poly_fold(
        t, lambda h1, h2: h1 * F.lit(2147483648).cast("long") + h2
    )


def portable_shingle_hash31(s: Column) -> Column:
    """Engine-portable 31-bit shingle hash mixing both polynomial hashes
    ((h1*2654435761 + h2) mod 2^31; the product stays within int64). The
    31-bit range keeps the per-slot minhash mixes (a_i*h + b_i) int64-safe
    for every slot multiplier."""
    return _poly_fold(
        s,
        lambda h1, h2: F.pmod(h1 * F.lit(2654435761) + h2, F.lit(2147483648)),
    )


def simhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash per doc — per-row array HOFs, no explode, no UDF.

    Token hashes are computed once into an array; a SINGLE aggregate pass
    folds them into a 64-slot per-bit popcount accumulator (zip_with over
    the bit-index vector), and one more zip_with turns majority bits into
    the packed signature. An earlier form ran 64 separate filter passes
    over the hashed array — identical output, measured 8x slower at sf0.1
    (interpreted HOF passes dominate; one traversal beats sixty-four).
    shiftright/shiftleft go through call_function: the SQL functions accept
    a column shift amount, only the Python wrappers restrict it to int.

    ``token_hash`` swaps the per-token hash primitive: default xxhash64
    (fast, JVM-only); pass ``portable_token_hash`` (with bits=62) for the
    cross-engine-verifiable variant the driver oracle-checks."""
    toks = F.split(F.col(text_col), " ")
    hashed = F.transform(toks, token_hash or (lambda t: F.xxhash64(t)))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda c, b: c + F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts,
            idx,
            lambda c, b: F.when(
                c * 2 > n, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via 16-bit chunk banding
    (pigeonhole: <=3 differing bits over 4 chunks leaves >=1 chunk equal)."""
    # materialize once: the banded self-join references sigs on both sides
    # (same reason minhash_candidates checkpoints — without it the signature
    # expressions evaluate twice)
    sigs = sigs.localCheckpoint(eager=False)
    chunks = F.array(
        *[
            F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias(f"c{i}")
            for i in range(4)
        ]
    )
    banded = sigs.select(
        id_col, "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk_val"
    )
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


#: Edge counts at or below this take cluster_min_label's driver-side
#: union-find finish (one bounded ~4 MB collect at the cap) instead of
#: further ~25-job distributed contraction rounds — the measured-size
#: gate pattern (read_keys/candidates): decide on an exact observed
#: count, collect only when proven within bound.
CC_LOCAL_FINISH_MAX_EDGES = 1 << 18


def cluster_min_label(
    pairs: DataFrame, ids: DataFrame, id_col: str, max_iter: int = 50
) -> DataFrame:
    """Connected components by CONTRACTING min-label propagation with
    pointer jumping over the candidate-pair edge list. Returns
    (id, cluster_id) with cluster_id = the component's minimum id —
    identical semantics to plain min-label propagation (the driver oracle
    pins them), different cost shape.

    Per outer round: (a) every current node adopts the min of {itself} ∪
    its neighbors; (b) the adoption map is SQUARED to fixpoint
    (m ← m∘m — each squaring doubles the hop distance the map covers, so
    a monotone chain of length D flattens in O(log D) node-map-sized
    self-joins; fixpoint is detected by the strictly-decreasing sum(m)
    going stationary, one tiny agg per squaring — squaring a FIXED number
    of times instead was measured to leave paths shrinking only linearly);
    (c) per-node labels COMPOSE through the converged map (node-sized
    join); (d) the edge list CONTRACTS to representative pairs, dropping
    self-loops and duplicate edges. Contraction is the scale win over the
    previous fixed-edge-set formulation (VERDICT r5 #4): a duplicate
    CLIQUE — the dominant near-dup structure — collapses after one round,
    so the full edge set is shuffled ~once instead of on every round;
    non-monotone "valley" structures re-expose smaller mins to the next
    round's contracted (much smaller) graph. Terminates when no edges
    remain (every surviving representative IS its component minimum);
    max_iter bounds both loops as a safety net, not the stopping rule.
    Eager localCheckpoints per squaring/contraction truncate the lineage
    iterative plans otherwise accumulate (lazy per-round checkpoints
    measurably ballooned plan-analysis time by round ~10).

    Only nodes touching an edge enter the loop (duplicate-graph-sized,
    tiny vs the corpus); untouched ids come back as singleton clusters at
    the end.

    r13 (guide §1.2/§5 — fewer driver-synchronized actions): the
    convergence signals ride the checkpoint jobs as observe() metrics
    instead of running as separate agg actions. Each squaring was 2 jobs
    (checkpoint, then sum(m)); each contraction 2 (checkpoint, then
    count) — the observed metric is computed DURING the materializing
    job, so the loop runs ONE job per squaring and one per contraction,
    with identical values driving identical iteration decisions.

    r14 (guide §1.2 — remove whole passes): BOUNDED LOCAL FINISH. Each
    distributed round costs ~25 driver-synchronized jobs (map, squarings
    to fixpoint, label composition, contraction — each checkpoint's AQE
    stage materializations are jobs too) regardless of how small the
    contracted graph has become; measured on the sf0.1 semantic graph the
    loop spent rounds 1-2 (~50 jobs) flattening a 1286-edge remnant. So
    once the observed edge count fits CC_LOCAL_FINISH_MAX_EDGES the
    remaining component structure is solved DRIVER-SIDE with min-rooted
    union-find over one bounded collect (the measured-size gate pattern
    of read_keys/candidates: decide on an exact count, collect only when
    proven within bound — ~4 MB at the 2^18-edge cap) and composed into
    the labels through one broadcast map. Identical semantics: union-find
    with attach-larger-root-under-smaller yields exactly the component
    minimum for every node, the same fixpoint the squaring loop reaches.
    At 100 TB the first rounds still contract distributedly (a duplicate
    CLIQUE — the dominant structure — collapses in round one), and the
    finish replaces only the long tail of tiny-graph rounds."""

    def _ckpt_msum(df):
        """(eager checkpoint of df, sum(m) of df) in ONE job."""
        out, obs = checkpoint_observed(
            df, F.sum(F.col("m").cast("decimal(38,0)")).alias("s")
        )
        return out, obs["s"]

    edges, eobs = checkpoint_observed(
        pairs.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n_edges = int(eobs["n"])
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("n").alias("src"), F.col("n").alias("label"))

    for _ in range(max_iter):
        if n_edges == 0:
            break
        if n_edges <= CC_LOCAL_FINISH_MAX_EDGES:
            # bounded local finish: solve the remaining (small, counted)
            # graph exactly with min-rooted union-find and broadcast the
            # label->component-min map back through the labels
            parent: dict = {}

            def _find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            seen = set()
            for row in edges.collect():
                a, b = row["u"], row["v"]
                seen.add(a)
                seen.add(b)
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # larger root under smaller: root == min
            id_dtype = edges.schema["u"].dataType
            mapping_df = edges.sparkSession.createDataFrame(
                [(n, _find(n)) for n in sorted(seen)],
                StructType(
                    [
                        StructField("_ln", id_dtype, False),
                        StructField("_lm", id_dtype, False),
                    ]
                ),
            )
            labels = labels.join(
                F.broadcast(mapping_df),
                labels["label"] == F.col("_ln"),
                "left",
            ).select("src", F.coalesce("_lm", "label").alias("label"))
            break
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m, prev = _ckpt_msum(
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("u", "_mv").alias("m"))
        )
        # square the map to FIXPOINT: m values are monotone non-increasing,
        # so sum(m) stationary == converged (one node-map-sized self-join
        # per squaring, the sum observed in the same job; each squaring
        # doubles covered hop distance)
        for _jump in range(max_iter):
            parent_m = m.select(F.col("u").alias("_pn"), F.col("m").alias("_pm"))
            m, cur = _ckpt_msum(
                m.join(parent_m, m["m"] == parent_m["_pn"], "left")
                .select("u", F.coalesce("_pm", "m").alias("m"))
            )
            if cur == prev:
                break
            prev = cur
        labels = (
            labels.join(
                m.select(F.col("u").alias("_ln"), F.col("m").alias("_lm")),
                labels["label"] == F.col("_ln"),
                "left",
            )
            .select("src", F.coalesce("_lm", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        edges, nobs = checkpoint_observed(
            edges.join(m.select(F.col("u"), F.col("m").alias("_mu")), on="u")
            .join(
                m.select(F.col("u").alias("v"), F.col("m").alias("_mv")), on="v"
            )
            .select(
                F.least("_mu", "_mv").alias("u"), F.greatest("_mu", "_mv").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        n_edges = int(nobs["n"])
    singletons = ids.join(
        nodes.withColumnRenamed("n", id_col), on=id_col, how="left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    return (
        labels.select(F.col("src").alias(id_col), F.col("label").alias("cluster_id"))
        .unionByName(singletons)
    )


def fuzzy_edit_pairs(
    df: DataFrame,
    name_col: str,
    block_expr: Column,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked edit-distance near-duplicate pairs over a DICTIONARY of
    distinct strings (record-linkage style, complementing the token-set
    methods above: minhash/simhash miss single-character typos, levenshtein
    catches them).

    Scale shape: dedupe the dictionary, not the rows — `distinct` first
    bounds the self-join input by the vocabulary size (entity names / brands
    / hosts are heavy-tailed: billions of rows, thousands of distinct
    strings), then the block key (caller-chosen, e.g. last token or
    length+prefix band) bounds candidate pairs to O(sum block^2) over
    vocabulary-sized blocks. levenshtein() is JVM codegen, evaluated only
    on blocked candidates. Blocking recall is a documented property of the
    chosen block key (a typo in the block token moves the string to another
    block), exactly as in standard record linkage.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    # block_expr is evaluated against the CALLER'S columns (before any
    # rename), so it is written in terms of name_col, e.g.
    # F.element_at(F.split(F.col("p_name"), " "), -1)
    names = (
        df.select(F.col(name_col).alias("name"), block_expr.alias("blk"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    a = names.select(F.col("name").alias("name_a"), F.col("blk"))
    b = names.select(F.col("name").alias("name_b"), F.col("blk"))
    return (
        a.join(b, on="blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )
