"""Scaling evidence for the streaming near-dup gate (neardup_ingest):
the design claim is that gating ONE batch costs O(batch + touched
buckets/shards) — i.e. per-batch wall-clock stays ~FLAT as the committed
corpus grows, because the candidate lookup reads only the batch's band
buckets and the signature verify is a shard-pruned point read.

Method: for each corpus size N, build a fresh DocumentStore +
BandIndexStore holding the first N fixture docs (signatures included),
then time `neardup_gate_batch` for a fixed-size batch of UNSEEN docs
(disjoint ids, same text distribution — so the batch does real
signature, lookup, and verify work). Setup cost is excluded; the gate
call is what an ingest cycle pays. Results land in BENCH_SCALING.json
under "neardup_gate".

Usage: python tools/bench_neardup_gate.py [docs_parquet] [batch_size]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
from binance_data_framework_spark.operators.dedup import (
    minhash_bands,
    minhash_signature,
)
from binance_data_framework_spark.session import get_spark
from binance_data_framework_spark.streaming.neardup_ingest import (
    neardup_gate_batch,
)


def main() -> int:
    docs_path = (
        sys.argv[1] if len(sys.argv) > 1 else "_scratch/sf10/documents.parquet"
    )
    batch_size = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    spark = get_spark("bench-neardup-gate")
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    # positional id boundaries WITHOUT a corpus-sized driver collect (the
    # 45M fixture would be gigabytes of Row objects): the scale fixtures
    # are dense 0..N-1 by construction — assert that and index by identity
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).first()
    if agg["lo"] == 0 and agg["hi"] == agg["n"] - 1:
        ids = range(agg["n"])
    else:  # non-dense corpus: small enough to collect by assumption
        ids = [
            r["doc_id"]
            for r in docs.select("doc_id").orderBy("doc_id").collect()
        ]
    sizes = [
        n
        for n in (10_000, 100_000, 450_000, 4_500_000, 45_000_000)
        if n + batch_size <= len(ids)
    ]
    results = {}
    scratch = os.path.abspath("_scratch/neardup_gate_bench")
    for n in sizes:
        best, stats, nb = float("inf"), None, None
        for _run in range(2):  # best-of-2, fresh stores per run (the gate
            # mutates state, so a warm re-run would do different work)
            shutil.rmtree(scratch, ignore_errors=True)
            store = DocumentStore(spark, f"{scratch}/docs", n_shards=16)
            # AUTO-bucketed band store (r9 growth leg): the bucket count
            # is derived from the committed row count, exactly what the
            # self-maintaining gate runs in production — the setup's
            # maybe_rebucket below right-sizes the layout for the
            # pre-built corpus (a maintenance event, excluded from the
            # timed gate call like the rest of setup), so the measured
            # point is the steady state the derivation promises
            bands = BandIndexStore(spark, f"{scratch}/bands", n_buckets=None)
            # pin BEFORE the first append: since the r7 layout-pinning
            # rework, a store populated unpinned refuses candidates()
            # (the generator params of its rows would be unknowable)
            bands.pin_params(
                {"num_hashes": 16, "num_bands": 4, "shingle_n": 3}
            )
            corpus = docs.where(F.col("doc_id") <= ids[n - 1])
            sigs = minhash_signature(corpus).localCheckpoint(eager=True)
            store.save_docs(sigs.join(corpus, "doc_id"))
            bands.append(minhash_bands(sigs))
            bands.maybe_rebucket()
            nb = bands.n_buckets
            fresh = docs.where(
                (F.col("doc_id") > ids[n - 1])
                & (F.col("doc_id") <= ids[n + batch_size - 1])
            )
            # ~5% of the batch are exact copies of corpus docs under NEW
            # ids, so the measured path includes the candidate VERIFY join
            # and the drop — not just an empty lookup
            dups = (
                docs.where(F.col("doc_id") <= ids[min(n, 1000) - 1])
                .limit(batch_size // 20)
                .select(
                    (F.col("doc_id") + 10_000_000_000).alias("doc_id"), "text"
                )
            )
            batch = fresh.unionByName(dups)
            # isolated candidate-read term (VERDICT r9 #2): the exact
            # band-index lookup the gate's corpus check pays, measured
            # alone — cold includes the one-time footer sweep a fresh
            # store handle pays, warm is the steady-state per-batch cost
            # (the production gate holds its handle across batches)
            probe = minhash_bands(
                minhash_signature(batch).localCheckpoint(eager=True)
            ).localCheckpoint(eager=True)
            t0 = time.time()
            bands.candidates(probe).count()
            cand_cold = round(time.time() - t0, 3)
            t0 = time.time()
            bands.candidates(probe).count()
            cand_warm = round(time.time() - t0, 3)
            t0 = time.time()
            stats = neardup_gate_batch(batch, store, bands, threshold=0.8)
            best = min(best, round(time.time() - t0, 3))
        results[str(n)] = {
            "gate_sec": best,
            "candidate_read_cold_sec": cand_cold,
            "candidate_read_warm_sec": cand_warm,
            "n_buckets": nb,
            **stats,
        }
        print(
            f"corpus={n}: gate={best}s cand={cand_cold}/{cand_warm}s "
            f"n_buckets={nb} {stats}",
            flush=True,
        )

    # Skewed-corpus stress (VERDICT r6 #7): real crawls have boilerplate
    # cliques — one band bucket with 10^4 members. Corpus = 90k uniform
    # docs + a 10k-doc clique of IDENTICAL text (all its bands land in
    # the same few buckets); batch = 2000 unseen + 1000 NEW copies of the
    # clique text. The 1000 in-batch copies exceed _BUCKET_HOF_CAP, so
    # in-batch dedup takes the chunked numpy path; the surviving copy
    # hits the hot bucket and verifies against all 10k stored clique
    # signatures (a 10k-pair point-read + est join). The claim under
    # test: the candidate read stays bucket-pruned and the whole gate
    # stays within ~2x of the uniform gate at equal corpus size.
    skew_n = 100_000
    skewed = None
    if skew_n - 10_000 + batch_size <= len(ids):
        clique_text = " ".join(
            f"boilerplate licence block token{i} shared verbatim"
            for i in range(10)
        )
        best, stats = float("inf"), None
        for _run in range(2):
            shutil.rmtree(scratch, ignore_errors=True)
            store = DocumentStore(spark, f"{scratch}/docs", n_shards=16)
            bands = BandIndexStore(spark, f"{scratch}/bands", n_buckets=64)
            # pin BEFORE the first append: since the r7 layout-pinning
            # rework, a store populated unpinned refuses candidates()
            # (the generator params of its rows would be unknowable)
            bands.pin_params(
                {"num_hashes": 16, "num_bands": 4, "shingle_n": 3}
            )
            uniform = docs.where(F.col("doc_id") <= ids[skew_n - 10_000 - 1])
            clique = spark.range(10_000).select(
                (F.col("id") + 20_000_000_000).alias("doc_id"),
                F.lit(clique_text).alias("text"),
            )
            corpus = uniform.unionByName(clique)
            sigs = minhash_signature(corpus).localCheckpoint(eager=True)
            store.save_docs(sigs.join(corpus, "doc_id"))
            bands.append(minhash_bands(sigs))
            fresh = docs.where(
                (F.col("doc_id") > ids[skew_n - 10_000 - 1])
                & (F.col("doc_id") <= ids[skew_n - 10_000 + batch_size - 1])
            )
            batch_clique = spark.range(1000).select(
                (F.col("id") + 30_000_000_000).alias("doc_id"),
                F.lit(clique_text).alias("text"),
            )
            batch = fresh.unionByName(batch_clique)
            t0 = time.time()
            stats = neardup_gate_batch(batch, store, bands, threshold=0.8)
            best = min(best, round(time.time() - t0, 3))
        skewed = {"gate_sec": best, "corpus": skew_n, "clique": 10_000, **stats}
        print(f"skewed corpus={skew_n} (10k clique): gate={best}s {stats}", flush=True)

    # Ingest-time decontamination stage (r8): the same 100k-corpus gate,
    # now ALSO checking every batch doc against a persisted 5k-doc eval
    # index (build_eval_index), with ~5% of the batch being exact copies
    # of eval docs so the measured path includes the eval verify + drop.
    # The claim: the extra stage costs one more bucket-pruned lookup —
    # gate_sec within ~1.5x of the uniform 100k point.
    from binance_data_framework_spark.streaming.neardup_ingest import (
        build_eval_index,
    )

    eval_gated = None
    ev_n, ev_size = 100_000, 5_000
    if ev_n + batch_size + ev_size <= len(ids):
        best, stats = float("inf"), None
        for _run in range(2):
            shutil.rmtree(scratch, ignore_errors=True)
            store = DocumentStore(spark, f"{scratch}/docs", n_shards=16)
            bands = BandIndexStore(spark, f"{scratch}/bands", n_buckets=64)
            # pin BEFORE the first append: since the r7 layout-pinning
            # rework, a store populated unpinned refuses candidates()
            # (the generator params of its rows would be unknowable)
            bands.pin_params(
                {"num_hashes": 16, "num_bands": 4, "shingle_n": 3}
            )
            ev_store = DocumentStore(spark, f"{scratch}/ev_docs", n_shards=16)
            ev_bands = BandIndexStore(spark, f"{scratch}/ev_bands", n_buckets=64)
            corpus = docs.where(F.col("doc_id") <= ids[ev_n - 1])
            sigs = minhash_signature(corpus).localCheckpoint(eager=True)
            store.save_docs(sigs.join(corpus, "doc_id"))
            bands.append(minhash_bands(sigs))
            ev_docs = docs.where(
                (F.col("doc_id") > ids[ev_n + batch_size - 1])
                & (F.col("doc_id") <= ids[ev_n + batch_size + ev_size - 1])
            ).select((F.col("doc_id") + 40_000_000_000).alias("doc_id"), "text")
            build_eval_index(ev_docs, ev_store, ev_bands)
            fresh = docs.where(
                (F.col("doc_id") > ids[ev_n - 1])
                & (F.col("doc_id") <= ids[ev_n + batch_size - 1])
            )
            contaminated = ev_docs.limit(batch_size // 20).select(
                (F.col("doc_id") + 10_000_000_000).alias("doc_id"), "text"
            )
            batch = fresh.unionByName(contaminated)
            t0 = time.time()
            stats = neardup_gate_batch(
                batch,
                store,
                bands,
                threshold=0.8,
                eval_docstore=ev_store,
                eval_band_store=ev_bands,
            )
            best = min(best, round(time.time() - t0, 3))
        eval_gated = {
            "gate_sec": best,
            "corpus": ev_n,
            "eval_docs": ev_size,
            **stats,
        }
        print(
            f"eval-gated corpus={ev_n} (5k eval index): gate={best}s {stats}",
            flush=True,
        )
    # Sustained ingest (r9): 12 CONSECUTIVE batches against a pre-built
    # 100k corpus with every maintenance leg armed and aggressive
    # thresholds (compaction at 4 files, growth factors at 2), on
    # auto-sharded/auto-bucketed stores. The claim: per-batch cost stays
    # bounded, with periodic maintenance spikes that amortize — the
    # measured form of "self-maintaining". Single pass (the series IS
    # the measurement; a best-of re-run would do different maintenance).
    sustained_runs: dict[str, dict | None] = {}
    for su_n, su_key in ((100_000, "sustained"), (4_500_000, "sustained_4p5m")):
        if su_n + 12 * batch_size > len(ids):
            sustained_runs[su_key] = None
            continue
        shutil.rmtree(scratch, ignore_errors=True)
        store = DocumentStore(spark, f"{scratch}/docs", n_shards=None)
        bands = BandIndexStore(spark, f"{scratch}/bands", n_buckets=None)
        store.COMPACT_MIN_FILES = bands.COMPACT_MIN_FILES = 4
        bands.pin_params({"num_hashes": 16, "num_bands": 4, "shingle_n": 3})
        corpus = docs.where(F.col("doc_id") <= ids[su_n - 1])
        sigs = minhash_signature(corpus).localCheckpoint(eager=True)
        store.save_docs(sigs.join(corpus, "doc_id"))
        bands.append(minhash_bands(sigs))
        bands.maybe_rebucket()
        store.maybe_reshard()
        series, stages = [], []
        for b in range(12):
            lo = su_n + b * batch_size
            batch = docs.where(
                (F.col("doc_id") > ids[lo - 1])
                & (F.col("doc_id") <= ids[lo + batch_size - 1])
            )
            t0 = time.time()
            st = neardup_gate_batch(
                batch,
                store,
                bands,
                threshold=0.8,
                drift_report=(b % 6 == 5),
            )
            series.append(round(time.time() - t0, 3))
            stages.append(st.get("stage_sec", {}))
        sustained_runs[su_key] = {
            "corpus_start": su_n,
            "batches": 12,
            "batch_size": batch_size,
            "batch_sec": series,
            "stage_sec": stages,
            "total_sec": round(sum(series), 3),
            "config": "auto shards+buckets, compact@4 files, growth@2x, drift every 6",
        }
        print(f"sustained[{su_key}] 12-batch series: {series}", flush=True)

    shutil.rmtree(scratch, ignore_errors=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SCALING.json",
    )
    doc: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    doc["neardup_gate"] = {
        "docs": docs_path,
        "batch_size": batch_size,
        "method": "fixed-size unseen batch gated against a pre-built corpus "
        "of N docs (fresh DocumentStore+BandIndexStore per point; setup "
        "excluded). Flat gate_sec across N = the O(batch + touched "
        "buckets/shards) claim, measured. r9: the uniform points run an "
        "AUTO-bucketed band store — setup's maybe_rebucket derives "
        "n_buckets from the committed row count (recorded per point), so "
        "the flat claim holds BECAUSE the growth leg sizes the layout, "
        "exactly as the self-maintaining gate does in production; the "
        "4.5M point is 10x the r8 ceiling. 'skewed' plants a 10k-doc "
        "identical-text clique in a 100k corpus and 1000 more copies in "
        "the batch (chunked in-batch scorer + hot-bucket verify); the "
        "claim is gate_sec within ~2x of the uniform 100k point. "
        "'eval_gated' adds a persisted 5k-doc benchmark index and ~5% "
        "contaminated batch docs (r8 decontamination stage); the claim "
        "is within ~1.5x of the uniform 100k point. r10: the 45M point "
        "is 10x the r9 ceiling; candidate_read_*_sec isolates the "
        "band-index lookup term (cold = fresh handle incl. footer sweep, "
        "warm = steady state on the held handle, the production regime) "
        "— the point-lookup path (VERDICT r9 #2) plans row-group reads "
        "from cached footers, so the warm term is bounded by probe keys "
        "x row-group size, constant across corpus decades; per-point "
        "stage_sec attributes the gate's remaining terms.",
        "points": results,
        "skewed": skewed,
        "eval_gated": eval_gated,
        "sustained": sustained_runs.get("sustained"),
        "sustained_4p5m": sustained_runs.get("sustained_4p5m"),
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
