"""Measured cost of every ANN index lifecycle op vs corpus size.

The scaling claim the delete tier (VERDICT r6 #2) rests on: at 100 TB
you cannot rebuild an index to forget a document, so append / delete /
purge / search must cost O(delta | tombstones | probed cells), never
O(corpus). This bench runs the full lifecycle against a FRESH root at
two corpus decades (sf0.1 = 2k vectors, _scratch/sf10 = 200k) with
FIXED-SIZE op inputs (2000-vector append delta, 100-id delete set,
5-probe search), and records per-op seconds into BENCH_SCALING.json
under ``ann_ops``. Build is the one op that is supposed to scale with
the corpus (training + full encode); everything after it should be
~flat across the two decades — the measured analogue of the
neardup_gate flat-batch-cost point, for the index tier.

Known corpus-sized terms at fixture scale (documented, not hidden):
append's duplicate-id guard is footer-pruned since r10 (driver-side id-
range intersection — a disjoint delta scans zero files; see
AnnIndexStore._committed_ids_among) but still pays the footer sweep;
delete's chash lookup is a column-pruned scan of the committed id
column; purge reads only the (variant, cell) partitions holding
tombstoned rows; search candidates grow with probed cells x occupancy
(occupancy capped by target_cell — the auto_centroids contract).
r10 note: micro-batch appends write ONE delta run instead of one file
per touched cell — at these fixtures' derived cell counts (2-20) the
file-count term was small; the 512-cell measurement in PLANS.md r10
(28.6 -> ~8 s) is where the structural change shows.

Usage: python tools/bench_ann_ops.py [sf_dir ...] [runs]
(defaults: /root/testdata/sf0.1 _scratch/sf10, runs=2; points are keyed
by the sf dir's basename)

The fourth decade (_scratch/sf1000, 20M vectors — r11) needs the same
env the factor-1000 query tier runs with: SPARK_GRAFT_DRIVER_MEM=64g
SPARK_GRAFT_SHUFFLE_PARTITIONS=128 — the build's corpus checkpoint
(~25 GB of encode-side columns) evicts under the 8g default local-mode
JVM and lazy-checkpoint blocks cannot be recomputed (lineage truncated),
so tasks die with 'Block rdd_N not found'.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import functions as F

from binance_data_framework_spark.ann_index import AnnIndexStore
from binance_data_framework_spark.operators import similarity as S
from binance_data_framework_spark.session import get_spark
from binance_data_framework_spark.sources.fixtures import load_table

DELTA_ROWS = 2000
DELETE_IDS = 100
NPROBE = 4
# shortlist width of the recall-held search point (see run_point): the r12
# 2M-decade sweep measured recall@10 0.10 at refine=4 (the old default),
# 0.46 at 16, 0.88 at 64 — invariant to nprobe 5..20, so the shortlist is
# the binding knob at scale and 64 is the measured held-recall setting. r13
# (VERDICT r12 #4) re-defaulted similarity.DEFAULT_REFINE to this value, so
# the plain search point below now runs at the held shortlist too; the held
# point still differs by probing the gate-SF cell FRACTION (nprobe scaling).
REFINE_HELD = S.DEFAULT_REFINE


def timed_build(spark, st: AnnIndexStore, emb):
    """(seconds, Spark jobs, index) of ``st.build(emb)``; the jobs are
    counted through a job group (the test suite's jobs_of rule)."""
    sc, group = spark.sparkContext, f"bench-ann-build-{time.time_ns()}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    idx = st.build(emb)
    sec = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sec, len(sc.statusTracker().getJobIdsForGroup(group)), idx


def run_point(spark, sf_dir: str, root: str) -> dict:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    if os.path.exists(root):
        shutil.rmtree(root)
    st = AnnIndexStore(spark, root)
    times: dict[str, float] = {}

    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    times["build_sec"], build_jobs, idx = timed_build(spark, st, emb)
    # growth of this process's peak RSS (KiB on Linux) over the build:
    # what driver-side training and encode hold at once
    rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024
    # the same build all in Spark: the distributed encode and the
    # trainers' Spark loops (a driver byte bound of 0), the other side of
    # S.TRAIN_DRIVER_MAX_BYTES at this point's training matrix
    spark_st = AnnIndexStore(spark, root + "_spark")
    spark_st.CODES_DELTA_MAX_VECTORS = 0
    bound, S.TRAIN_DRIVER_MAX_BYTES = S.TRAIN_DRIVER_MAX_BYTES, 0
    try:
        times["build_spark_sec"], build_spark_jobs, _ = timed_build(spark, spark_st, emb)
    finally:
        S.TRAIN_DRIVER_MAX_BYTES = bound
    shutil.rmtree(root + "_spark")
    cap = max(st.TRAIN_SAMPLE_MIN, st.TRAIN_SAMPLE_PER_CENTROID * idx.n_centroids)

    # fixed-size delta: the DELTA_ROWS lowest ids re-enter under new ids
    # (same vectors — the op cost does not depend on the values). The
    # fixture ids are dense 0..N-1, so the pushed-down range filter
    # selects exactly the orderBy().limit() rows WITHOUT sorting the
    # decoded corpus — the op under measurement is append, not the
    # bench's input plan (r11: at 20M the sort-limit input cost ~30 s of
    # the append's checkpoint materialization)
    delta = emb.where(F.col("vec_id") < DELTA_ROWS).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
        "embedding",
    )
    t0 = time.perf_counter()
    idx = st.append(delta)
    times["append_sec"] = time.perf_counter() - t0

    # maintenance right after the append. r10: a 2000-vector append lands
    # as ONE delta run (no cell fragmentation), so the measured op is the
    # delta FOLD — the full-layout rewrite the amortized trigger
    # schedules, and the op whose cost the fold fraction bounds per-append
    t0 = time.perf_counter()
    n_compacted = st.compact_codes(fold_deltas=True)
    times["compact_sec"] = time.perf_counter() - t0
    assert n_compacted > 0, "append should have left a delta run to fold"

    doomed = emb.where(F.col("vec_id") < DELETE_IDS).select("vec_id")
    t0 = time.perf_counter()
    idx = st.delete(doomed)
    times["delete_sec"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_purged = st.purge_tombstones()
    times["purge_sec"] = time.perf_counter() - t0
    assert n_purged == DELETE_IDS, (n_purged, DELETE_IDS)

    # committed-index search: probe cells resolved driver-side from the
    # persisted centroids (model-sized math), codes read cell-pruned
    probes = emb.where(F.col("vec_id").isin([100, 101, 102, 103, 104]))
    pv = np.array(
        [r["embedding"] for r in probes.collect()]
    )  # 5 x dim — probe-sized by construction
    cent = np.array(idx.centroids)
    d2 = ((pv[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    cells = sorted({int(c) for row in d2 for c in np.argsort(row)[:NPROBE]})
    t0 = time.perf_counter()
    S.topk_cosine_ivfpq(
        emb,
        F.col("vec_id").isin([100, 101, 102, 103, 104]),
        k=10,
        centroids=idx.centroids,
        books=idx.pq_books,
        coded=st.codes("pq", cells=cells),
    ).write.format("noop").mode("overwrite").save()
    times["search_sec"] = time.perf_counter() - t0

    # RECALL AT THIS DECADE (VERDICT r11 #3): the 2M/20M points recorded
    # latency only — recall was certified only at the gate SFs, so a
    # quantizer that silently degraded at scale would pass the sweep.
    # Re-run the same committed-index search, compare against the exact
    # brute-force top-k over the LIVE corpus (deleted ids excluded — their
    # codes are tombstone-masked on the approx side; appended 1e9+ ids are
    # not in `emb`, so neither side can return them), and record recall +
    # exact-score agreement next to the latency numbers. Measured outside
    # the lifecycle timings: this is the certificate, not the op.
    t0 = time.perf_counter()
    approx = {
        (r["probe_id"], r["vec_id"]): r["cosine"]
        for r in S.topk_cosine_ivfpq(
            emb,
            F.col("vec_id").isin([100, 101, 102, 103, 104]),
            k=10,
            centroids=idx.centroids,
            books=idx.pq_books,
            coded=st.codes("pq", cells=cells),
        ).collect()
    }
    exact = {
        (r["probe_id"], r["vec_id"]): r["cosine"]
        for r in S.topk_cosine(
            emb,
            F.col("vec_id").isin([100, 101, 102, 103, 104]),
            k=10,
            candidate_filter=F.col("vec_id") >= DELETE_IDS,
        ).collect()
    }
    times["recall_cert_sec"] = time.perf_counter() - t0
    overlap = set(exact) & set(approx)
    recall = len(overlap) / len(exact) if exact else 1.0
    score_dev = max(
        (abs(exact[kk] - approx[kk]) for kk in overlap), default=0.0
    )

    # The RECALL-HELD point. Measured at the 2M decade (r12 knob sweep):
    # recall there is REFINE-bound, not nprobe-bound — at the default
    # k*refine=40 shortlist recall@10 was 0.10, and raising nprobe 5 ->
    # 20 at fixed refine moved nothing (0.46 at refine=16 for all three),
    # while refine 4 -> 64 took it 0.10 -> 0.88 at any nprobe. The scale
    # fixture's replica structure makes this the expected regime: ~1000
    # near-parallel variants of every vector ADC-score above the true
    # top-10, so the shortlist must be wide enough to contain them before
    # the exact re-rank can rank them. The held point therefore probes
    # the gate-SF cell FRACTION (ceil(cells/4), the nprobe ∝ n_centroids
    # rule) AND widens the shortlist to k*REFINE_HELD — the two knobs a
    # real IVF-PQ deployment turns — and records what that recall costs:
    # recall at scale is a knob with a measured price, not a silent
    # property of the index.
    nprobe_held = max(NPROBE, -(-idx.n_centroids // 4))  # ceil(cells/4)
    cells_held = sorted(
        {int(c) for row in d2 for c in np.argsort(row)[:nprobe_held]}
    )
    t0 = time.perf_counter()
    approx_held = {
        (r["probe_id"], r["vec_id"]): r["cosine"]
        for r in S.topk_cosine_ivfpq(
            emb,
            F.col("vec_id").isin([100, 101, 102, 103, 104]),
            k=10,
            nprobe=nprobe_held,
            refine=REFINE_HELD,
            centroids=idx.centroids,
            books=idx.pq_books,
            coded=st.codes("pq", cells=cells_held),
        ).collect()
    }
    times["search_held_sec"] = time.perf_counter() - t0
    recall_held = (
        len(set(exact) & set(approx_held)) / len(exact) if exact else 1.0
    )

    return {
        "n_vectors": n,
        "build_jobs": build_jobs,
        "build_spark_jobs": build_spark_jobs,
        "train_matrix_mb": round(min(n, cap) * idx.dim * 8 / 2**20, 1),
        "build_rss_mb": round(rss_mb, 1),
        "n_probed_cells": len(cells),
        "nprobe_held": int(nprobe_held),
        "refine_held": REFINE_HELD,
        "recall_at_10": round(recall, 4),
        "recall_at_10_held": round(recall_held, 4),
        "max_score_dev": float(f"{score_dev:.3e}"),
        "scores_match": bool(score_dev <= 1e-6),
        **{k: round(v, 3) for k, v in times.items()},
    }


def main() -> int:
    args = sys.argv[1:]
    runs = int(args.pop()) if args and args[-1].isdigit() else 2
    dirs = args or ["/root/testdata/sf0.1", "_scratch/sf10"]
    spark = get_spark("bench-ann-ops")
    spark.sparkContext.setLogLevel("ERROR")

    points: dict[str, dict] = {}
    for sf_dir in dirs:
        tag = os.path.basename(os.path.normpath(sf_dir))
        # absolute: SnapshotStore roots must be absolute paths (relative
        # ones break the store-relative path arithmetic)
        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "_scratch",
            f"bench_ann_ops_{tag}",
        )
        best: dict | None = None
        for _ in range(runs):  # fresh root per run: ops mutate state
            rec = run_point(spark, sf_dir, root)
            if best is None:
                best = rec
            else:
                for k, v in rec.items():
                    if k.endswith("_sec"):
                        best[k] = min(best[k], v)
        points[tag] = {"dir": sf_dir, **best}
        print(f"{tag}: {json.dumps(points[tag])}", flush=True)
        shutil.rmtree(root, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SCALING.json",
    )
    doc = json.load(open(path)) if os.path.exists(path) else {}
    # merge with previously recorded points: a partial rerun (one decade,
    # e.g. the 20M point under its bigger-JVM env) must not drop the rest
    prior = doc.get("ann_ops", {}).get("points", {})
    points = {**prior, **points}
    doc["ann_ops"] = {
        "method": (
            "full index lifecycle against a FRESH root per run, best-of-"
            f"{runs} per op; fixed-size op inputs ({DELTA_ROWS}-vector "
            f"append delta, {DELETE_IDS}-id delete, 5-probe/{NPROBE}-cell "
            "search) against corpora two decades apart. build is the one "
            "corpus-sized op (training + full encode); append/delete/"
            "purge/search flat-ness across the decades is the index-tier "
            "analogue of the neardup_gate point. Every point also "
            "carries a recall certificate (r12): recall_at_10 vs the "
            "exact brute-force baseline at the latency-matched nprobe, "
            "recall_at_10_held at the recall-held knobs "
            "(nprobe=ceil(cells/4), refine=REFINE_HELD) with its "
            "search_held_sec cost, and scores_match pinning that "
            "reported cosines are exact. build_spark_sec / "
            "build_spark_jobs time the same build with the distributed "
            "encode and the trainers' Spark loops "
            "(S.TRAIN_DRIVER_MAX_BYTES = 0); train_matrix_mb is the "
            "training matrix (sample rows x dim x 8 B) and build_rss_mb "
            "the growth of the bench process's peak RSS over the "
            "default build."
        ),
        "points": points,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
