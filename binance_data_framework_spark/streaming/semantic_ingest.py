"""Streaming SEMANTIC-duplicate-gated ingest: the embedding analogue of
the MinHash band gate (VERDICT r11 #6 — compose the batch tier's
semantic_dedup with the committed-ANN-index serving leg into the
incremental form).

neardup_ingest answers "does this batch near-duplicate the accepted
corpus" by TOKEN overlap (MinHash bands -> band-index lookup ->
signature verify); this gate answers the same question in EMBEDDING
space — paraphrase/translation-grade duplication that shares few
tokens. The composition mirrors the band gate stage for stage:

1. in-batch self-dedup: the batch tier's semantic_dedup runs on the
   micro-batch itself (banded sign-LSH candidates, exact-cosine verify,
   connected components, lowest-id representative) — batch and
   streaming agree on what "semantic duplicate" means by construction;
2. redelivery check: batch ids already in the vector store are
   checkpoint REDELIVERIES, not duplicates — detected with a
   shard-pruned point read (DocumentStore.read_keys), the same rule
   the band gate applies to same-id collisions;
3. corpus check: the remaining rows probe the COMMITTED ANN index
   (ann_serve.serve_batch — physically cell-pruned code read pinned
   to one manifest version, exact-cosine re-rank from the stored
   vector table) and drop when ANY of the top check_k exact cosines
   reaches the threshold; the check runs at the r12 recall-held
   shortlist (check_refine=64) because a duplicate-heavy corpus
   ADC-crowds narrow shortlists (measured: 36% of planted stored
   copies slipped a k=1/refine=4 check at the 200k decade). The
   reported cosines are exact; like the band gate, the gate's
   false-ACCEPT rate is the candidate tier's recall (IVF-PQ
   probed-cell + shortlist recall, bench-asserted per decade), never
   a new approximation;
4. survivors: vector store append (add-only, on_existing="skip") then
   index append (skip_existing) — the same two-commit cadence as the
   band gate, convergent under checkpoint replay for the same reasons.

Scale shape per batch: O(batch) banding + verify for stage 1, one
shard-pruned point read for stage 2, one probed-cell ADC scan +
shortlist re-rank for stage 3 (probe side bounded by SERVE_PROBE_MAX),
and batch-sized add-only commits for stage 4 — nothing rescans the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_data_framework_spark.materialize import checkpoint_observed
from binance_data_framework_spark.operators import similarity as S
from binance_data_framework_spark.streaming.ann_serve import serve_batch


def semantic_gate_batch(
    batch_df: DataFrame,
    vec_store,
    ann_store,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nprobe: int = 4,
    check_k: int = 8,
    check_refine: int = 64,
    ann_build_kwargs: dict | None = None,
) -> dict:
    """Run one micro-batch through the semantic gate (module docstring).
    ``vec_store`` is a DocumentStore keyed on ``id_col`` holding the
    accepted vectors (the re-rank source the index's codes point at);
    ``ann_store`` the AnnIndexStore over the same corpus. Returns pinned
    gate stats — ``arrived == kept + dropped_in_batch +
    dropped_vs_corpus + redelivered`` always holds (pytest-enforced) —
    plus the served/committed ``index_version``. Mutates both stores.

    First accepted batch TRAINS the index (``ann_build_kwargs`` ->
    build()); later batches append with the committed quantizer. A
    checkpoint-replayed batch re-derives the same decisions (stage 1 is
    deterministic, stages 2-3 see the rows its first delivery stored)
    and converges to a no-op through the skip paths.

    ``stage_sec`` in the returned stats itemizes the gate the same way
    neardup_gate_batch does (each boundary sits after an eager
    checkpoint/count, so deltas attribute real work): in_batch_dedup /
    redelivery_check / corpus_check / commit."""
    import time as _time

    stage_sec: dict[str, float] = {}
    _mark = [_time.time()]

    def _tick(name: str) -> None:
        now = _time.time()
        stage_sec[name] = round(now - _mark[0], 3)
        _mark[0] = now

    def _ckpt_count(df: DataFrame) -> tuple[DataFrame, int]:
        out, obs = checkpoint_observed(df)
        return out, int(obs["n"])

    batch_df, n_arrived = _ckpt_count(batch_df)  # micro-batch sized
    if n_arrived == 0:
        idx = ann_store.load()
        return {
            "arrived": 0,
            "kept": 0,
            "dropped_in_batch": 0,
            "dropped_vs_corpus": 0,
            "redelivered": 0,
            "index_version": idx.version if idx else None,
            "stage_sec": {},
        }

    # 1. in-batch self-dedup — the batch tier's operator verbatim
    reps = S.semantic_dedup(
        batch_df, threshold=threshold, id_col=id_col, vec_col=vec_col, dim=dim
    ).select(id_col)
    kept_batch, n_after_batch = _ckpt_count(
        batch_df.join(F.broadcast(reps), on=id_col, how="left_semi")
    )
    dropped_in_batch = n_arrived - n_after_batch
    _tick("in_batch_dedup")

    # 2. redelivery check — shard-pruned point read, same-id rows are
    # already stored (first-write-wins, like the band gate's append_new).
    # An empty store (nothing accepted yet) trivially has no redeliveries
    # — same manifest-sidecar emptiness probe the band gate uses. The
    # STORED rows (id + vector) are kept around, not just the ids: stage
    # 4 re-feeds them to the index so a replay backfills the crash window
    # (see the commit comment below).
    man = vec_store._snapshot()
    redelivered_vecs = None
    if man and man["files"]:
        stored_rows = (
            vec_store.read_keys(kept_batch.select(id_col))
            .select(id_col, vec_col)
            .localCheckpoint(eager=True)
        )
        stored_ids = stored_rows.select(id_col).distinct()
        fresh, n_fresh = _ckpt_count(
            kept_batch.join(F.broadcast(stored_ids), on=id_col, how="left_anti")
        )
        redelivered_vecs = stored_rows
    else:
        fresh, n_fresh = kept_batch, n_after_batch
    redelivered = n_after_batch - n_fresh
    _tick("redelivery_check")

    # 3. corpus check — committed-index probe, exact-cosine verify: drop
    # if ANY of the top check_k exact cosines clears the threshold. The
    # knobs default to the r12 recall-held setting (check_refine=64 —
    # the measured refine-bound regime: in a duplicate-heavy corpus the
    # true near-dup must beat check_k*check_refine ADC-crowding
    # near-neighbors into the shortlist before the exact re-rank can see
    # it; at the default k=1/refine=4 the bench measured 36% of planted
    # stored-copies slipping through at the 200k decade, 0% at k=8/64)
    idx = ann_store.load()
    if idx is not None and n_fresh > 0:
        hits = serve_batch(
            fresh,
            ann_store,
            idx,
            vec_store.read().select(id_col, vec_col),
            k=check_k,
            nprobe=nprobe,
            refine=check_refine,
            id_col=id_col,
            vec_col=vec_col,
        )
        dup_ids = (
            hits.where(F.col("cosine") >= F.lit(float(threshold)))
            .select(F.col("probe_id").alias(id_col))
            .distinct()
        )
        survivors, n_kept = _ckpt_count(
            fresh.join(F.broadcast(dup_ids), on=id_col, how="left_anti")
        )
    else:
        survivors, n_kept = fresh, n_fresh
    dropped_vs_corpus = n_fresh - n_kept
    _tick("corpus_check")

    # 4. commit survivors: vectors first, then the index. The index leg
    # feeds the UNION of survivors and the batch's redelivered rows
    # (vectors re-read from the store — the stored copy is authoritative
    # under first-write-wins), mirroring the band gate's ANN leg
    # (neardup_ingest review r9 #1): a crash between the vector-store
    # append and the index append leaves rows stored-but-unindexed; on
    # replay stage 2 classifies them as redeliveries, so ONLY this union
    # path can backfill them into the index. skip_existing makes the
    # already-indexed ids a no-op, so the replay converges (ADVICE r12
    # high).
    to_index = survivors.select(id_col, vec_col)
    if redelivered > 0:
        to_index = to_index.unionByName(
            redelivered_vecs.select(id_col, vec_col)
        )
    if n_kept > 0 or redelivered > 0:
        if n_kept > 0:
            vec_store.append_docs(survivors, on_existing="skip")
        if idx is None:
            # covers the first-batch crash window too: build() reads the
            # full vector store, which already holds any redelivered rows
            idx = ann_store.build(
                vec_store.read().select(id_col, vec_col),
                **(ann_build_kwargs or {}),
            )
        else:
            idx = ann_store.append(to_index, skip_existing=True)

    _tick("commit")
    return {
        "arrived": n_arrived,
        "kept": n_kept,
        "dropped_in_batch": dropped_in_batch,
        "dropped_vs_corpus": dropped_vs_corpus,
        "redelivered": redelivered,
        "index_version": idx.version if idx else None,
        "stage_sec": stage_sec,
    }


def stream_semantic_ingest(
    vectors: DataFrame,
    vec_store,
    ann_store,
    checkpoint_dir: str,
    stats_path: str | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nprobe: int = 4,
    check_k: int = 8,
    check_refine: int = 64,
    ann_build_kwargs: dict | None = None,
    trigger_available_now: bool = True,
):
    """Attach the semantic gate as a foreachBatch sink on an embedding
    stream. Per-batch stats optionally land at ``stats_path`` as one
    JSON line per batch keyed by batch_id (dynamic partition overwrite —
    replayed batches replace their own stats row)."""
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        stats = semantic_gate_batch(
            batch_df,
            vec_store,
            ann_store,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            nprobe=nprobe,
            check_k=check_k,
            check_refine=check_refine,
            ann_build_kwargs=ann_build_kwargs,
        )
        if stats_path is not None:
            spark = vec_store.spark
            # explicit schema (ADVICE r12 low): an EMPTY micro-batch's
            # stats carry index_version=None and stage_sec={}, which
            # schema inference maps to NullType / map<null,null> and the
            # write raises — killing the stream on sources that can
            # legitimately deliver empty batches
            (
                spark.createDataFrame(
                    [
                        {
                            "batch_id": batch_id,
                            **{k: v for k, v in stats.items()},
                        }
                    ],
                    schema=(
                        "batch_id long, arrived long, kept long, "
                        "dropped_in_batch long, dropped_vs_corpus long, "
                        "redelivered long, index_version long, "
                        "stage_sec map<string,double>"
                    ),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .json(stats_path)
            )

    writer = vectors.writeStream.foreachBatch(gate).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
