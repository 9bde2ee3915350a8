"""Streaming ANN serving: top-k search over the committed index for a
STREAM of probe vectors — the query-side counterpart of the ingest gate
(neardup_ingest feeds the index; this serves it).

Why foreachBatch and not a stream-static join: the search is a ranked
window (row_number per probe over ADC scores), and ranking windows are
not allowed on streaming DataFrames — but each micro-batch's probe set
is a perfectly ordinary BATCH probe side, so the committed-index search
(similarity.topk_cosine_ivfpq with the persisted codes) runs unchanged
per batch and its results land in the sink. The probe side of that
search is bounded by ``SERVE_PROBE_MAX`` (a bigger micro-batch raises
instead of silently building an O(probes x dim) driver matrix — the
same bounded-collect contract as similarity.PAIRS_PROBE_MAX and
ann_index's append probe cap); the corpus side reads only the probed
cells of the committed code layout plus the shortlist's exact vectors
(semi-join-gated, O(k*refine*probes) rows).

Snapshot consistency: every artifact a batch decodes with — centroids,
codebooks, AND the code rows themselves — comes from ONE manifest
version, the version of the loaded handle (``store.codes(...,
version=idx.version)``). A rebuild committing mid-stream therefore
never mixes new codes with stale codebooks (ADVICE r11 #1); it is
served from the next reload on, and delete()'s tombstone masking
applies the moment the reloaded snapshot carries it.

Delivery: results are keyed (batch_id, probe_id, rank), stamped with
the served index version, and written with dynamic partition overwrite
on ``batch_id`` — a batch replayed after a partial write REPLACES its
own partition instead of appending duplicates, so the sink converges to
exactly-once contents under Structured Streaming's at-least-once
foreachBatch replay (the rows themselves are deterministic given the
pinned index version).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_data_framework_spark.materialize import collect_bounded
from binance_data_framework_spark.operators import similarity as S

# Hard cap on probes collected per micro-batch. serve_batch must pull the
# probe vectors to the driver (cell resolution is probe x n_centroids math
# and the probe side of the ADC join is driver-broadcast), so the driver
# cost is O(SERVE_PROBE_MAX * dim) by construction — a probe storm or a
# reader without maxOffsetsPerTrigger hits this raise, not the driver's
# heap. Size triggers (maxOffsetsPerTrigger / maxFilesPerTrigger) below it.
SERVE_PROBE_MAX = 65_536


def serve_batch(
    probes: DataFrame,
    store,
    idx,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = S.DEFAULT_REFINE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame | None:
    """One micro-batch's searches against a loaded index handle. The
    probe CELLS are resolved driver-side from the model (probe-sized
    math, bounded by SERVE_PROBE_MAX), the code read is physically
    pruned to those cells AND pinned to the handle's manifest version,
    and the exact re-rank pulls shortlist vectors from ``corpus`` — the
    static vector table the index was built over (the index stores
    CODES, not raw vectors; every real ANN serving tier keeps the
    vector table as the re-rank source). Probe ids must be disjoint
    from corpus ids (external queries) or identical rows (self-search).
    Returns (probe_id, vec_id, cosine, rank), or None for an empty
    batch."""
    import numpy as np

    rows = collect_bounded(
        probes.select(id_col, vec_col),
        SERVE_PROBE_MAX,
        f"serve_batch: micro-batch exceeds SERVE_PROBE_MAX="
        f"{SERVE_PROBE_MAX} probes — bound the trigger "
        "(maxOffsetsPerTrigger / maxFilesPerTrigger) so each batch's "
        "probe set fits the driver-side cell-resolution budget",
    )
    if not rows:
        return None
    pv = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    cent = np.array(idx.centroids)
    d2 = ((pv[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    cells = sorted({int(c) for row in d2 for c in np.argsort(row)[:nprobe]})
    id_type = probes.schema[id_col].dataType.simpleString()
    base = corpus.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
    probe_df = corpus.sparkSession.createDataFrame(
        [(r[id_col], [float(x) for x in r[vec_col]]) for r in rows],
        f"{id_col} {id_type}, {vec_col} array<double>",
    )
    # probe rows ride along with a marker column so probe membership is a
    # column test, not a driver-built isin() literal list (which re-ships
    # every probe id inside the plan); they can never enter the candidate
    # shortlist (the shortlist comes from the committed codes, which hold
    # only corpus ids)
    df = (
        base.join(probe_df, id_col, "left_anti")
        .withColumn("_is_probe", F.lit(False))
        .unionByName(probe_df.withColumn("_is_probe", F.lit(True)))
    )
    return S.topk_cosine_ivfpq(
        df,
        F.col("_is_probe"),
        k=k,
        nprobe=nprobe,
        refine=refine,
        dim=idx.dim,
        m_sub=idx.m_sub,
        ksub=idx.ksub,
        id_col=id_col,
        vec_col=vec_col,
        centroids=idx.centroids,
        books=idx.pq_books,
        coded=store.codes("pq", cells=cells, version=idx.version),
        # a micro-batch is the MANY-probe regime: the blocked per-cell
        # ADC kernel moves each probe vector into a cell once instead of
        # shipping it on every (probe, candidate) pair row — measured
        # 305 s -> batch-bounded at the 2M-vector gate decade (r12)
        blocked_adc=True,
    )


def stream_ann_serve(
    probes: DataFrame,
    store,
    corpus: DataFrame,
    results_path: str,
    checkpoint_dir: str,
    k: int = 10,
    nprobe: int = 4,
    reload_every: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
):
    """Attach committed-index top-k serving as a foreachBatch sink on a
    probe-vector stream. Results (batch_id, index_version, probe_id,
    vec_id, cosine, rank) land in ``results_path`` as parquet
    partitioned by batch_id, written with dynamic partition overwrite —
    replaying a batch replaces its own partition, never duplicates it.

    ``reload_every``: re-load the committed index every that many
    micro-batches (1 = every batch — each load is model-sized: one
    manifest resolve + the JSON sidecar; code files are read lazily per
    search). Larger cadences amortize the sidecar read when the index
    is known to change rarely; 0 pins the first loaded version for the
    stream's lifetime. Whatever the cadence, each batch's codes read is
    pinned to the loaded handle's version, so a stale handle serves a
    CONSISTENT old snapshot — never a torn mix."""
    state: dict = {"idx": None}

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        if state["idx"] is None or (
            reload_every > 0 and batch_id % reload_every == 0
        ):
            idx = store.load()
            if idx is None:
                raise ValueError(
                    f"stream_ann_serve: no committed index at {store.root}"
                )
            state["idx"] = idx
        out = serve_batch(
            batch_df, store, state["idx"], corpus, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
        if out is None:
            return
        # dynamic partition overwrite as a PER-WRITE option (not session
        # conf — `out` descends from the static corpus session, so a conf
        # set on the micro-batch session would not bind this write): only
        # the batch_id=<this batch> partition is replaced, every other
        # batch's results are untouched
        (
            out.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn(
                "index_version", F.lit(state["idx"].version).cast("long")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_path)
        )

    writer = probes.writeStream.foreachBatch(serve).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
