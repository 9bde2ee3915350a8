"""Streaming near-duplicate-gated corpus ingest: continuous curation.

The batch dedup tier answers "which docs in THIS corpus near-duplicate
each other"; a 100 TB pipeline also needs the INCREMENTAL form — every
arriving batch must be checked against everything already accepted,
without rescanning the corpus. This module composes three existing
pieces into that gate:

- MinHash signatures + LSH bands (operators/dedup.minhash_signature /
  minhash_bands — the same arithmetic as the batch candidate
  generator, so batch and streaming agree on what "near-duplicate"
  means);
- a persisted, bucket-partitioned band index
  (docstore.BandIndexStore): per batch, candidate lookup reads ONLY
  the buckets the batch's band keys hash to, and accepted docs'
  bands append in one add-only commit — the index grows with the
  corpus, the lookup cost with the batch;
- the transactional DocumentStore: accepted docs (carrying their
  signature column) land in add-only commits, first write wins, so
  checkpoint-replayed batches converge instead of duplicating.

Gate semantics per micro-batch, in order:
1. in-batch self-dedup (lowest id of each near-pair survives —
   dedup_near_minhash's deterministic rule);
2. (optional) eval decontamination: batch bands against a READ-ONLY
   benchmark index built by build_eval_index() — a doc near-duplicating
   an eval doc is dropped before it can reach any store ("never train
   on benchmark data", enforced at ingest);
3. corpus check: batch bands -> BandIndexStore.candidates ->
   same-id pairs are checkpoint REDELIVERIES, not duplicates (the
   doc is already stored, so the save skips it) -> remaining
   candidates verify est_jaccard against the
   stored signatures (point-read via DocumentStore.read_keys — shard
   -pruned, no corpus scan) and drop at >= threshold;
4. survivors: doc store write (one ADD-ONLY commit of only the
   provably-new docs, the O(batch) path) then band append (one
   add-only commit). A crash between the two commits leaves docs
   stored but unindexed for one batch; the checkpoint replays the
   batch, the corpus check's point read finds the doc rows already
   stored, and the band append completes — convergent, at the cost
   of possibly-duplicate band rows (candidates are distinct-ed, so
   duplicates cost bytes, not correctness).

Scale shape: per batch the work is O(batch) signatures (narrow),
O(batch x num_bands) band rows, O(touched buckets) candidate IO, a
row-group-pruned point read for verification, and a batch-sized
ADD-ONLY store write — nothing scans or rewrites the corpus (the r9
finding: the upsert save was touched_shards x shard_size, a
whole-store rewrite per batch once keys hash everywhere; measured as
the gate's only super-flat term across corpus decades). The est
verification is exact on the stored signatures, so the gate's
false-drop rate equals the batch dedup tier's (banding recall x
signature estimate), not a new approximation.

Two paths run those stages. The batch is checkpointed first (one Spark
job), which also counts its rows and its text and vector bytes. A batch
within GATE_DRIVER_MAX_ROWS and GATE_DRIVER_MAX_BYTES, with every doc
and band store on a local root, runs on the DRIVER: one more Spark job
computes each row's signature, band keys, doc shard, band buckets and
ANN encode inputs and collects the batch through Arrow; self-dedup runs
the dedup tier's pair kernel per band bucket over numpy rows; the eval and corpus checks call the
pyarrow-Table forms of BandIndexStore.candidates and
DocumentStore.read_keys, which plan row groups from cached footers and
read them with pyarrow; and the doc, band and ANN commits write parquet
with pyarrow. Every hash and layout column is still a Spark expression —
evaluated in that collect, or (the shards of stored keys read_keys
looks up) over a local relation without a job — so both paths share one
implementation of each and commit the same rows. A micro-batch thus
costs two Spark jobs plus whatever a maintenance leg rewrites. The
bounds are the largest batch measured on the driver path; larger
batches, other roots and batches with a null or repeated id run the
Spark plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_data_framework_spark.materialize import checkpoint_observed, stage_timer
from binance_data_framework_spark.operators.curation import shard_assign
from binance_data_framework_spark.operators.dedup import (
    _band_keys,
    _bucket_pairs,
    _validate_banding,
    minhash_bands,
    minhash_candidates,
    minhash_signature,
)

#: the driver-path bound (module docstring, "Two paths"): a batch of at
#: most this many documents, whose text and vector bytes total at most
#: GATE_DRIVER_MAX_BYTES, runs on the driver; larger batches keep the Spark
#: plans. Both are the largest batch measured on the driver path:
#: perfbench's ingest_gate seed batch, 150 documents of 122-131 KB over
#: seeds 0-199. Where larger batches cross over to the Spark plans is not
#: measured.
GATE_DRIVER_MAX_ROWS = 150
GATE_DRIVER_MAX_BYTES = 128 << 10


def _banded_drops(
    sigs: DataFrame,
    docstore,
    band_store,
    id_col: str,
    num_bands: int,
    num_hashes: int,
    threshold: float,
    same_id_is_redelivery: bool,
):
    """Batch ids to DROP against one persisted (band index, doc store)
    pair: band the batch signatures, look up candidate collisions in only
    the touched buckets, verify est_jaccard exactly against the stored
    signatures (shard-pruned point read), keep ids at >= threshold. The
    ONE corpus-check implementation shared by the in-corpus stage (where
    a same-id collision is a checkpoint redelivery, not a duplicate) and
    the eval-decontamination stage (where ids are from a DIFFERENT corpus
    — an id collision is coincidence and must still verify by content).

    Returns ``(drops, redelivered, stored)``:

    - ``redelivered``: with ``same_id_is_redelivery``, the same-id
      collision ids (the batch docs provably already stored — an identical
      redelivery's bands equal its stored bands, so it always collides
      with itself): the save uses them to know which survivors need no
      store write. Otherwise None.
    - ``stored``: the checkpointed (key, sig) point read the verification
      used, or None when nothing was read. With ``same_id_is_redelivery``
      that ONE read also covers the batch's own ids (whenever the doc
      store is non-empty), so the save split reads from it instead of
      point-reading the store a second time — no commit lands between the
      two uses, so they see the same snapshot."""
    bands = minhash_bands(sigs, id_col, num_bands, num_hashes)
    key = docstore.key_col
    # the candidate set feeds up to three consumers (the drop
    # verification, the redelivery split, the stored-key read) — one eager
    # checkpoint replaces three bucket-pruned index scans + their
    # driver-side touched-bucket collects (review r9 #5); it is bounded at
    # batch x num_bands x collisions. The cross-id count that decides
    # whether anything needs verifying rides the same job.
    cross = F.col("id_new") != F.col("id_stored")
    cand, obs = checkpoint_observed(
        band_store.candidates(bands),
        F.count(F.when(cross, 1) if same_id_is_redelivery else F.lit(1)).alias(
            "n_cross"
        ),
    )
    redelivered = None
    if same_id_is_redelivery:
        redelivered = cand.where(~cross).select("id_new").distinct()
        cand = cand.where(cross)
    n_cross = int(obs["n_cross"])
    keys = cand.select(F.col("id_stored").alias(key)) if n_cross else None
    if same_id_is_redelivery:
        dman = docstore._snapshot()
        if dman and dman["files"]:
            own = sigs.select(F.col(id_col).alias(key))
            keys = own if keys is None else keys.unionByName(own)
    stored = None
    if keys is not None:
        stored = (
            docstore.read_keys(keys.distinct())
            .select(key, "sig")
            .localCheckpoint(eager=True)
        )
    if not n_cross:
        return cand.limit(0).select("id_new"), redelivered, stored
    stored_sigs = stored.select(
        F.col(key).alias("id_stored"), F.col("sig").alias("_sig_stored")
    )
    # exact est on the stored signatures — same eq/num_hashes arithmetic
    # as minhash_candidates
    est = (
        F.aggregate(
            F.zip_with(
                F.col("sig"),
                F.col("_sig_stored"),
                lambda p, q: (p == q).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    drops = (
        cand.join(sigs.withColumnRenamed(id_col, "id_new"), "id_new")
        .join(stored_sigs, "id_stored")
        .where(est >= threshold)
        .select("id_new")
        .distinct()
    )
    return drops, redelivered, stored


def _table_drops(
    bands, ids, sig, docstore, band_store, num_hashes: int, threshold: float,
    same_id_is_redelivery: bool, own=None,
):
    """_banded_drops on the driver: ``bands`` (a pyarrow Table of the
    batch's band rows) probe the Table form of BandIndexStore.candidates,
    the stored signatures come from the Table form of
    DocumentStore.read_keys, and est is the same equal-slots / num_hashes
    over numpy rows (``sig``, one row per id of ``ids``). ``own``, the
    batch's ids, widens that one point read as the corpus check's
    _banded_drops does.
    Returns ``(drop ids, redelivered ids, {key: stored sig})`` — a set
    where _banded_drops returns a frame, and ``{}`` when nothing was
    read."""
    import numpy as np
    import pyarrow as pa

    pairs = band_store.candidates(bands)
    new, old = pairs["id_new"].to_numpy(), pairs["id_stored"].to_numpy()
    redelivered = set()
    if same_id_is_redelivery:
        same = new == old
        redelivered = set(new[same].tolist())
        new, old = new[~same], old[~same]
    keys = set(old.tolist()) | set([] if own is None else own.tolist())
    stored = {}
    if keys:
        key = docstore.key_col
        got = docstore.read_keys(
            pa.table(
                {key: pa.array(sorted(keys), pairs.schema.field("id_stored").type)}
            )
        )
        stored = dict(zip(got[key].to_pylist(), got["sig"].to_pylist()))
    hit = np.array([o in stored for o in old.tolist()], dtype=bool)
    new, old = new[hit], old[hit]
    if not len(new):
        return set(), redelivered, stored
    row = {v: i for i, v in enumerate(ids.tolist())}
    theirs = np.array([stored[o] for o in old.tolist()], dtype=float)
    est = (sig[[row[v] for v in new.tolist()]] == theirs).sum(axis=1) / num_hashes
    return set(new[est >= threshold].tolist()), redelivered, stored


def build_eval_index(
    eval_docs: DataFrame,
    eval_docstore,
    eval_band_store,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> int:
    """One-time (re-runnable) indexing of a BENCHMARK/eval corpus so the
    streaming gate can refuse contaminated training docs at ingest: store
    each eval doc with its MinHash signature (the gate's est verification
    point-reads it) and append its LSH bands to a dedicated band index.
    Uses the same signature/banding arithmetic — and the same param
    pinning — as the gate itself, so "contaminated" means exactly what
    the batch-tier decontaminate_neardup query means. Returns the number
    of eval docs indexed."""
    eval_band_store.pin_params(
        {"num_hashes": num_hashes, "num_bands": num_bands, "shingle_n": shingle_n}
    )
    sigs = minhash_signature(eval_docs, text_col, id_col, num_hashes, shingle_n)
    keyed, obs = checkpoint_observed(eval_docs.join(sigs, id_col))
    n = int(obs["n"])
    if n:
        # band-leg idempotency (ADVICE r8 #4): save_docs is a keyed
        # upsert, but band append is add-only — a re-run would append the
        # same band rows again, growing the index with every invocation
        # and re-verifying duplicate collisions per lookup. Membership is
        # keyed off the BAND INDEX itself (a self-collision of the doc's
        # own bands — bucket-pruned lookup), NOT the doc store: the doc
        # commit lands first below, so a crash between the two commits
        # followed by a re-run must still see those docs as band-fresh
        # and complete their band rows (review r9 #2 — the doc-store
        # membership check left them unindexed forever, silently passing
        # contaminated docs that duplicated them). Already-banded ids
        # keep their committed bands — eval corpora are static by
        # contract; to change an indexed doc's text, rebuild both stores.
        bands = minhash_bands(
            keyed.select(id_col, "sig"), id_col, num_bands, num_hashes
        ).localCheckpoint(eager=True)
        already = (
            eval_band_store.candidates(bands)
            .where(F.col("id_new") == F.col("id_stored"))
            .select(F.col("id_new").alias(id_col))
            .distinct()
        )
        fresh = bands.join(already, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        eval_docstore.save_docs(keyed)
        if fresh.limit(1).count():
            eval_band_store.append(fresh)
    return n


def corpus_drift_report(
    docstore,
    k: int = 20,
    text_col: str = "text",
    update_baseline: bool = True,
) -> list[dict] | None:
    """The gate's MONITORING leg (VERDICT r8 #6): top-k term-distribution
    drift of the CURRENT stored corpus vs the last monitored point. The
    baseline is a persisted vocab-grain (term, cnt) table under
    ``<root>/_drift_baseline`` (Heaps'-law sublinear — the persistable
    summary), NOT a time-travel read: snapshot retention is a trailing
    two-commit window by design, so a monitoring cadence of every N
    batches cannot rely on reading an N-commit-old snapshot. The drift
    arithmetic is text.drift_from_counts — the SAME scoring the oracled
    corpus_drift_terms query runs, factored so the two paths cannot
    diverge.

    Cost shape: one shuffle-free Arrow term-count pass over the corpus
    plus a vocab-grain join — a maintenance-cadence op (the same class
    as maybe_rebuild's retrain), not a per-batch one; the gate runs it
    every ``drift_every`` batches. Returns the report rows (model-sized:
    k of them) or None on the first call (baseline seeded); with
    ``update_baseline=False`` the report is computed without advancing
    the monitored point (a dry-run probe)."""
    from binance_data_framework_spark.operators.text import (
        corpus_term_counts,
        drift_from_counts,
    )

    import json as _json
    import uuid as _uuid

    man = docstore._snapshot()
    if not man or not man["files"]:
        return None  # nothing stored yet — no baseline to seed either
    spark = docstore.spark
    cur = corpus_term_counts(
        docstore.read(), text_col, docstore.key_col, "cnt_now"
    ).localCheckpoint(eager=True)  # survives the baseline swap below
    report = None
    # the baseline lives in a versioned directory resolved through a tiny
    # pointer sidecar — a plain mode("overwrite") would delete-then-write
    # in place, and a crash mid-rewrite would leave the NEXT monitored
    # batch computing drift against partial counts (a phantom shift from
    # the very leg meant to detect real ones; review r9 #8). The pointer
    # write is a single small-file replace; the previous directory is
    # removed only after the swap.
    fs, ptr_path = docstore._fs_path("_drift_baseline.json")
    old_dir = None
    if fs.exists(ptr_path):
        old_dir = _json.loads(docstore._read_bytes("_drift_baseline.json"))[
            "dir"
        ]
        # the baseline holds rows of corpus_term_counts, whose schema
        # ``cur`` already carries: no schema-inference job per report
        base = spark.read.schema(cur.schema).parquet(f"{docstore.root}/{old_dir}")
        report = [
            {
                "term": r["term"],
                "drift": r["drift"],
                "cnt_now": r["cnt_a"],
                "cnt_baseline": r["cnt_b"],
            }
            # collected BEFORE the swap: the baseline read feeds it
            for r in drift_from_counts(cur, base, k).collect()
        ]
    if update_baseline:
        new_dir = f"_drift_baseline-{_uuid.uuid4().hex}"
        cur.write.parquet(f"{docstore.root}/{new_dir}")
        docstore._write_bytes(
            "_drift_baseline.json", _json.dumps({"dir": new_dir}).encode()
        )
        if old_dir:
            fs_o, p_o = docstore._fs_path(old_dir)
            fs_o.delete(p_o, True)
    return report


def _spark_checks(
    batch_df, docstore, band_store, *, text_col, id_col, num_hashes,
    num_bands, shingle_n, threshold, eval_docstore, eval_band_store,
    ann_store, tick,
):
    """Gate stages 1-3 as Spark plans over the checkpointed batch:
    ``(n_self, n_eval, n_kept, docs to store, band rows to append,
    survivors' (id, vector) rows for the ANN leg or None)``. ``tick``
    closes a stage of neardup_gate_batch's stage_sec."""
    # signatures computed ONCE and shared by both stages — the earlier
    # form ran the shingle+hash pipeline (the dedup tier's dominant cost)
    # inside dedup_near_minhash and then AGAIN for the corpus check
    # (review r6b #8)
    sigs_all = minhash_signature(
        batch_df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)
    # 1. in-batch self-dedup (deterministic: lowest id of each near-pair
    #    survives — dedup_near_minhash's rule, over the shared signatures)
    losers = (
        minhash_candidates(
            sigs_all, id_col, num_bands, threshold, num_hashes=num_hashes
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    sigs, obs = checkpoint_observed(sigs_all.join(losers, id_col, "left_anti"))
    n_self = int(obs["n"])
    tick("sig_selfdedup")
    # 2. eval-decontamination check FIRST (when configured): contaminated
    #    docs must never reach any store, and dropping them before the
    #    corpus check keeps the two drop counters disjoint
    n_eval = n_self
    if eval_band_store is not None:
        contaminated, _, _ = _banded_drops(
            sigs,
            eval_docstore,
            eval_band_store,
            id_col,
            num_bands,
            num_hashes,
            threshold,
            same_id_is_redelivery=False,
        )
        sigs, obs = checkpoint_observed(
            sigs.join(
                contaminated.withColumnRenamed("id_new", id_col),
                id_col,
                "left_anti",
            )
        )
        n_eval = int(obs["n"])
        tick("eval_check")
    # 3. corpus check via the persisted band index
    dropped, redelivered, stored = _banded_drops(
        sigs,
        docstore,
        band_store,
        id_col,
        num_bands,
        num_hashes,
        threshold,
        same_id_is_redelivery=True,
    )
    survivors, obs = checkpoint_observed(
        sigs.join(
            dropped.withColumnRenamed("id_new", id_col), id_col, "left_anti"
        )
        .select(id_col, "sig")
        .join(batch_df, id_col)
    )
    n_kept = int(obs["n"])
    to_store = to_band = survivors
    if n_kept:
        # band-detected redeliveries are provably stored WITH their
        # bands — excluded from the doc and band writes. The rest
        # splits by the corpus check's point read, which already
        # covers the batch's keys (row-group-pruned, batch-bounded —
        # review r9 #4):
        # - not stored            -> NEW: doc + bands
        # - stored, SAME sig      -> crash-window replay (doc landed,
        #   bands did not): bands only
        # - stored, DIFFERENT sig -> same-id re-send with drifted
        #   text: nothing — first-write-wins, and committing the
        #   drifted text's bands would leave phantom band rows whose
        #   content is not in the store
        maybe_new = survivors.join(
            redelivered.withColumnRenamed("id_new", id_col),
            id_col,
            "left_anti",
        )
        if stored is not None:
            flagged = maybe_new.join(
                stored.withColumnRenamed("sig", "_stored_sig"),
                docstore.key_col,
                "left",
            ).localCheckpoint(eager=True)
            to_store = flagged.where(F.col("_stored_sig").isNull()).drop(
                "_stored_sig"
            )
            backfill = flagged.where(
                F.col("_stored_sig") == F.col("sig")
            ).drop("_stored_sig")
            to_band = to_store.unionByName(backfill)
        else:  # empty doc store: every survivor is new
            to_store = to_band = maybe_new.localCheckpoint(eager=True)
    tick("corpus_check")
    bands = minhash_bands(to_band.select(id_col, "sig"), id_col, num_bands, num_hashes)
    vecs = None
    if ann_store is not None:
        vecs = survivors.select(ann_store.id_col, ann_store.vec_col)
    return n_self, n_eval, n_kept, to_store, bands, vecs


def _driver_checks(
    batch_df, docstore, band_store, *, text_col, id_col, num_hashes, num_bands,
    shingle_n, threshold, eval_docstore, eval_band_store, ann_store, tick,
):
    """Gate stages 1-3 on the driver, _spark_checks' result as pyarrow
    Tables, after ONE Spark job: a projection of the checkpointed batch
    computes each row's signature, band keys, doc shard, band buckets
    and, with an ANN leg, the encode inputs — the Spark expressions of
    the frame paths, under the layout counts the two handles last saw —
    and is collected through Arrow; the Table forms of the tier methods
    take those columns. Self-dedup runs the large-bucket UDF's pair
    kernel per band bucket; the eval and corpus checks are _table_drops,
    whose lookups route under the counts of the snapshots they resolve.
    Their snapshots also refresh the handles' counts: one that moved (a
    concurrent reshard or rebucket) raises, as the stale rows' commit
    would. None when an id is null or repeats: such a batch takes
    _spark_checks, whose joins define what it keeps."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    _validate_banding(num_bands, num_hashes)
    cols = batch_df.columns
    # the row rides through minhash_signature as its id column
    packed = batch_df.select(F.struct(*cols).alias("_row"), text_col)
    frame = (
        minhash_signature(packed, text_col, "_row", num_hashes, shingle_n)
        .select("_row.*", "sig")
        .withColumn("_bands", _band_keys(num_bands, False, num_hashes))
    )
    docstore._check_layout()
    band_store._check_layout()
    routed = (docstore.n_shards, band_store.n_buckets)
    frame = shard_assign(frame, routed[0], docstore.key_col).withColumn(
        "_bucket", F.transform("_bands", band_store._bucket_of)
    )
    if ann_store is not None:
        frame = ann_store._delta_projection(frame)
    t = frame.toArrow()
    n = t.num_rows
    if t[id_col].null_count or len(pc.unique(t[id_col])) < n:
        return None
    ids = t[id_col].to_numpy()
    # one row per document; a null signature slot reads as NaN, which
    # equals nothing (the frame path's null comparison never counts either)
    flat = lambda c: pc.list_flatten(t[c]).to_numpy().reshape(n, -1)  # noqa: E731
    sig, keys = flat("sig"), flat("_bands")

    def bands_of(rows):
        """The band rows of ``rows`` with their buckets in band_store."""
        rows = np.flatnonzero(rows)
        return pa.table(
            {
                id_col: pa.array(np.repeat(ids[rows], num_bands), t[id_col].type),
                "band_idx": pa.array(
                    np.tile(np.arange(num_bands, dtype=np.int32), len(rows))
                ),
                "band_hash": pa.array(keys[rows].ravel()),
                "bucket": pa.array(flat("_bucket")[rows].ravel()),
            }
        )

    # 1. self-dedup: each band bucket's pairs through the shared kernel
    groups: dict[tuple[int, int], list[int]] = {}
    for b in range(num_bands):
        for i, h in enumerate(keys[:, b].tolist()):
            groups.setdefault((b, h), []).append(i)
    losers: set = set()
    for rows in groups.values():
        if len(rows) > 1:
            pairs = _bucket_pairs(ids[rows], sig[rows], threshold, num_hashes)
            losers.update(i for _, id_b, _ in pairs for i in id_b.tolist())
    alive = ~np.isin(ids, list(losers))
    n_self = n_eval = int(alive.sum())
    tick("sig_selfdedup")
    # 2. eval decontamination, 3. corpus check (_spark_checks' order)
    if eval_band_store is not None:
        drops, _, _ = _table_drops(
            bands_of(alive), ids, sig, eval_docstore,
            eval_band_store, num_hashes, threshold, False,
        )
        alive &= ~np.isin(ids, list(drops))
        n_eval = int(alive.sum())
        tick("eval_check")
    dman = docstore._snapshot()
    dropped, redelivered, stored = _table_drops(
        bands_of(alive), ids, sig, docstore, band_store, num_hashes,
        threshold, True, own=ids[alive] if dman and dman["files"] else None,
    )
    alive &= ~np.isin(ids, list(dropped))
    # the redelivery split of _spark_checks, over the same point read
    new = alive & ~np.isin(ids, list(redelivered))
    held = [stored.get(k) for k in ids.tolist()]
    to_store = new & np.array([h is None for h in held], dtype=bool)
    same = [h is not None and h == s for h, s in zip(held, t["sig"].to_pylist())]
    to_band = to_store | (new & np.array(same, dtype=bool))
    tick("corpus_check")
    if (docstore.n_shards, band_store.n_buckets) != routed:
        raise RuntimeError(
            f"concurrent reshard or rebucket during the gate batch: its rows "
            f"routed with (n_shards, n_buckets) {routed}, the stores now "
            f"hold {(docstore.n_shards, band_store.n_buckets)} — retry"
        )
    docs = t.select([id_col, "sig", *(c for c in cols if c != id_col), "shard"])
    vecs = None
    if ann_store is not None:
        ann = [ann_store.id_col, ann_store.vec_col, "_v", "_norm", "_chash"]
        vecs = t.select(ann).filter(alive)
    return (
        n_self,
        n_eval,
        int(alive.sum()),
        docs.filter(pa.array(to_store)),
        bands_of(to_band),
        vecs,
    )


def neardup_gate_batch(
    batch_df: DataFrame,
    docstore,
    band_store,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    ann_store=None,
    ann_build_kwargs: dict | None = None,
    eval_docstore=None,
    eval_band_store=None,
    drift_report: bool = False,
) -> dict:
    """Run one batch through the near-dup gate (module docstring).
    Returns {"arrived", "kept", "dropped_in_batch", "dropped_vs_corpus"}
    counts for observability; mutates the two stores.

    Survivors reach the DocumentStore through an ADD-ONLY commit of only
    the docs not already stored (DocumentStore.append_docs) — the
    O(batch) write path. The already-stored set comes from the band check
    itself (an identical redelivery's bands equal its stored bands, so it
    always collides with itself) and from the corpus check's one point
    read, which also covers the batch's own ids. Semantics:
    FIRST-write-wins per doc id (a same-id re-send with drifted text does
    not replace the stored doc). A keyed upsert would rewrite
    touched_shards x shard_size — the WHOLE store per micro-batch once
    keys hash everywhere (measured: the gate grew 8 -> 36 s across corpus
    decades on exactly this term; add-only, the write is batch-sized).

    ``ann_store`` (VERDICT r6 #3 — the composed continuous pipeline):
    an AnnIndexStore whose (id_col, vec_col) name columns of the batch
    frame. When given, each accepted batch's vectors flow into the
    committed ANN index in the SAME cadence as the doc/band commits —
    first accepted batch trains the index (``ann_build_kwargs`` →
    build()), later batches append with the committed quantizer,
    ``skip_existing`` making checkpoint-replayed batches converge to a
    no-op. The corpus is then continuously curated AND continuously
    searchable: DocumentStore rows, band index, and ANN codes advance
    together, and the rolled fingerprint keeps certifying exactly the
    stored corpus.

    ``eval_docstore``/``eval_band_store`` (ingest-time benchmark
    DECONTAMINATION): a persisted eval-corpus index prepared by
    build_eval_index(). When given, every batch doc that near-duplicates
    an eval doc (est_jaccard >= ``threshold``) is dropped BEFORE it can
    reach any store — "never train on benchmark data" enforced at the
    gate, per batch, at the same bucket-pruned O(batch + touched
    buckets/shards) cost as the corpus check; the eval index is only ever
    READ here. Unlike the corpus check, a same-id collision is NOT a
    redelivery (the ids come from a different corpus) — it verifies by
    content like any candidate.

    After each accepted batch every tier runs one ``maintain()`` step
    (DocumentStore, BandIndexStore and, after an append, AnnIndexStore
    .maintain, under SnapshotStore.GROW_FACTOR and COMPACT_MIN_FILES):
    grow the layout, else fold due delta runs, else compact; a leg that
    rewrote the layout ends that tier's step. All checks are driver-side
    and O(1) or a manifest count, so the composed pipeline is
    self-maintaining: ingest, dedup, decontaminate, index, regrow,
    compact.

    - Grow legs: an AUTO-sharded DocumentStore reshards, an AUTO-bucketed
      BandIndexStore rebuckets (narrow key-hash remaps, triggered by the
      row count the commits record in the manifest), so per-batch reads
      stay flat as the corpus grows; pinned stores no-op. The batch-1 ANN
      build pins both its cell count and its quantizer's training
      distribution, so once appends outgrow an auto-sized index's cells
      ``maybe_rebuild`` force-retrains over the FULL stored corpus (read
      only when due; pinned-n_centroids builds never auto-rebuild).
    - Fold legs: the band and code delta runs fold into their bucketed
      layouts once due (SnapshotStore._fold_due).
    - Compaction legs: appends fragment touched shards, buckets and cells
      by one file each; once any partition holds COMPACT_MIN_FILES
      committed files the tier folds its layout back to one file per
      partition (DocumentStore.optimize, BandIndexStore.compact,
      AnnIndexStore.compact_codes — layout-only, search-invariant)."""
    # band hashes are a pure function of these — pin them in the band
    # store's layout sidecar so a gate reopened with different values
    # raises instead of silently admitting near-duplicates (ADVICE r6)
    if (eval_docstore is None) != (eval_band_store is None):
        # the decontamination stage needs BOTH: it is keyed off
        # eval_band_store, so a lone eval_docstore silently disables it,
        # and a lone eval_band_store fails only when a band collision
        # occurs — a misconfigured gate could run clean batches without
        # error (ADVICE r8 #2)
        raise ValueError(
            "neardup_gate_batch: pass eval_docstore AND eval_band_store "
            "together (decontamination needs the band index for candidate "
            "lookup and the doc store for signature verification), or "
            "neither"
        )
    band_store.pin_params(
        {"num_hashes": num_hashes, "num_bands": num_bands, "shingle_n": shingle_n}
    )
    if eval_band_store is not None:
        eval_band_store.pin_params(
            {
                "num_hashes": num_hashes,
                "num_bands": num_bands,
                "shingle_n": shingle_n,
            }
        )
    # per-stage wall-clock (r10 observability, VERDICT r9 #2's "term"
    # accounting): each boundary below sits after an eager checkpoint /
    # collect; maintenance is timed in two pieces around the ANN leg
    stage_sec, tick = stage_timer()
    # the batch's row count and its text and vector bytes ride the eager
    # checkpoint (one Spark job) and pick the path
    nbytes = F.coalesce(F.octet_length(text_col), F.lit(0))
    if ann_store is not None:
        nbytes = nbytes + 8 * F.greatest(F.size(ann_store.vec_col), F.lit(0))
    batch_df, obs = checkpoint_observed(
        batch_df, F.count(F.lit(1)).alias("n"), F.sum(nbytes).alias("bytes")
    )
    n_arrived = int(obs["n"])
    if not n_arrived:
        return {
            "arrived": 0,
            "kept": 0,
            "saved": 0,
            "dropped_in_batch": 0,
            "dropped_contaminated": 0,
            "dropped_vs_corpus": 0,
            "drift": None,
            # same shape as the non-empty return (review r10 #3: a
            # consumer indexing stats["stage_sec"] must not KeyError on
            # the first idle micro-batch)
            "stage_sec": stage_sec,
        }
    params = dict(
        text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        num_bands=num_bands, shingle_n=shingle_n, threshold=threshold,
        eval_docstore=eval_docstore, eval_band_store=eval_band_store,
        ann_store=ann_store, tick=tick,
    )
    checked = None
    if (
        n_arrived <= GATE_DRIVER_MAX_ROWS
        and int(obs["bytes"]) <= GATE_DRIVER_MAX_BYTES
        and all(
            st._local_root() is not None
            for st in (docstore, band_store, eval_docstore, eval_band_store)
            if st is not None
        )
    ):
        checked = _driver_checks(batch_df, docstore, band_store, **params)
    if checked is None:
        checked = _spark_checks(batch_df, docstore, band_store, **params)
    n_self, n_eval, n_kept, to_store, to_band, vecs = checked
    # 4. commit: docs first, then bands (replay-convergent either way —
    # see module docstring crash note), then the ANN leg (also convergent:
    # skip_existing makes a replayed append a no-op)
    n_saved = 0
    if n_kept:
        n_saved = docstore.append_docs(to_store, on_existing="trust")
        tick("save_docs")
        band_store.append(to_band)
        tick("band_append")
        # layout lifecycle (VERDICT r8 #1/#5, r9, r10): each tier's
        # maintain() grows an auto-sized layout with the corpus, else folds
        # due LSM delta runs, else compacts append-fragmented partitions;
        # all three checks are driver-side, and a leg that rewrote the
        # layout ends the step. Folding shards keeps the doc store
        # scan-clean, so point reads and corpus scans never
        # precedence-merge.
        docstore.maintain()
        band_store.maintain()
        tick("maintenance")
        if ann_store is not None:
            # ALL survivors, not just the newly-stored slice (review r9
            # #1): a crash between the band append and this leg leaves a
            # doc stored+banded but unindexed; on replay it band-collides
            # with itself and is excluded from to_store — feeding
            # to_store here would lose its vector forever. skip_existing
            # makes the already-appended ids a no-op, so this converges.
            if ann_store.load() is None:
                ann_store.build(vecs, **(ann_build_kwargs or {}))
                tick("ann_build")
            else:
                ann_store.append(vecs, skip_existing=True)
                tick("ann_append")
                # rebuild source = the full STORED corpus (deleted docs
                # excluded by construction), so the retrained quantizer
                # sees the current distribution, not batch 1's; read only
                # when the grow rule is due
                ann_store.maintain(
                    corpus=lambda: docstore.read().select(
                        ann_store.id_col, ann_store.vec_col
                    ),
                )
                tick("maintenance")
    # monitoring leg (VERDICT r8 #6): at the caller's cadence, diff the
    # stored corpus's term distribution against the last monitored
    # baseline and surface the top movers in the batch stats — a crawler
    # change or boilerplate wave shows up here batches before aggregate
    # stats move. Runs even for an all-dropped batch (the corpus may
    # still have drifted since the last monitored point).
    drift = None
    if drift_report:
        drift = corpus_drift_report(docstore, text_col=text_col)
        tick("drift")
    return {
        "arrived": n_arrived,
        "kept": n_kept,
        "saved": n_saved,
        "dropped_in_batch": n_arrived - n_self,
        "dropped_contaminated": n_self - n_eval,
        "dropped_vs_corpus": n_eval - n_kept,
        "drift": drift,
        "stage_sec": stage_sec,
    }


def delete_documents(
    keys: DataFrame,
    docstore,
    band_store,
    ann_store=None,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> dict:
    """First-class removal across EVERY tier of the curated corpus
    (takedown / opt-out / decontamination): drop the doomed docs' LSH
    bands bucket-pruned (recomputed from their STORED signatures — a
    shard-pruned point read, no corpus scan), tombstone their vectors in
    the committed ANN index (searches exclude them immediately; physical
    purge rides the next append/rebuild), then delete the doc rows.

    Order is crash-consistent and every step idempotent: the doc row —
    the source of truth holding the signature the band drop needs — goes
    LAST, so a crash anywhere leaves the deletion re-runnable (bands
    re-drop to a no-op, the ANN tombstone set already has the ids, the
    doc delete completes). Ids never stored are no-ops throughout. The
    minhash params are validated against the band store's pinned layout
    (a delete with drifted params would recompute band keys that miss
    the stored rows — silently leaving them behind)."""
    band_store.pin_params(
        {"num_hashes": num_hashes, "num_bands": num_bands, "shingle_n": shingle_n}
    )
    keyed = (
        keys.select(docstore.key_col).distinct().localCheckpoint(eager=True)
    )
    doomed, obs = checkpoint_observed(docstore.read_keys(keyed))
    n = int(obs["n"])
    if n:
        band_store.compact(
            drop_bands=minhash_bands(
                doomed.select(docstore.key_col, "sig"),
                docstore.key_col,
                num_bands,
                num_hashes,
            )
        )
    if ann_store is not None and ann_store.load() is not None:
        ann_store.delete(
            keyed.withColumnRenamed(docstore.key_col, ann_store.id_col)
            if docstore.key_col != ann_store.id_col
            else keyed
        )
    if n:
        docstore.delete_docs(keyed)
    return {"requested": keyed.count(), "deleted": n}


def stream_neardup_ingest(
    clean: DataFrame,
    docstore,
    band_store,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    drift_every: int | None = None,
    **gate_kwargs,
):
    """Attach the near-dup gate as a foreachBatch sink on a clean document
    stream (e.g. stream_jsonl_documents' clean side). Returns the started
    StreamingQuery. Exactly-once end to end: the checkpoint bounds replay
    to unprocessed source shards, and redelivered already-stored docs
    are recognized via the same-id rule — neither dropped as duplicates
    of themselves nor written again.

    ``drift_every``: run the corpus-drift monitoring leg every that many
    micro-batches (VERDICT r8 #6 — the shift detector promoted from
    pytest composition to gate feature); the report rides the gate stats
    ("drift" key) and the baseline advances at each monitored point.
    Cadence keys off batch_id, so a checkpoint-replayed batch re-monitors
    deterministically. None (default) disables."""

    if "drift_report" in gate_kwargs:
        raise ValueError(
            "stream_neardup_ingest: pass drift_every=<N> instead of "
            "drift_report — the stream owns the per-batch cadence"
        )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        monitor = (
            drift_every is not None and batch_id % drift_every == drift_every - 1
        )
        neardup_gate_batch(
            batch_df, docstore, band_store, drift_report=monitor, **gate_kwargs
        )

    writer = clean.writeStream.foreachBatch(gate).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
