"""AnnIndexStore — persisted, versioned ANN index artifacts on the shared
SnapshotStore commit protocol (VERDICT r5 #1: train once / search many).

Every real ANN deployment splits INDEX BUILD from SEARCH: the quantizer is
trained once over the corpus, versioned, and then served against by every
query. Before this module the engine's approximate top-k paths retrained
their IVF centroids / PQ codebooks / OPQ rotation in-plan per query (the r5
session memo only spanned one SparkSession); here the whole model — and the
product-quantized CODES of the corpus — become committed store artifacts:

``root/model/*.parquet``
    one row per component (JSON payload, model-sized): index params +
    corpus fingerprint, IVF centroids, PQ codebooks, OPQ rotation + its
    codebooks, pinned sign-LSH parameters.
``root/codes/variant={pq,opq}/cell=<c>/*.parquet``
    (vec_id, norm, code) — the M-byte PQ code and cached norm of every
    corpus vector, PARTITIONED BY IVF CELL. This is the 100 TB search
    layout: a query that probes ``nprobe`` cells reads ONLY those cells'
    code partitions (directory-level partition pruning), moving
    ~8-16 bytes per candidate instead of a dim*8-byte vector; full vectors
    are fetched from the source table only for the k*refine shortlist.
``root/codes_delta/*.parquet``
    (vec_id, variant, cell, norm, code) — LSM delta runs (r10): a
    micro-batch append lands as ONE (variant, cell)-sorted file instead
    of a near-empty file per touched cell (measured 28.6 s / ~1000 files
    for a 2000-vector batch at 512 cells). Lookups consult runs alongside
    the bucketed layout; ``maybe_fold_code_deltas`` merges them at a
    rows-fraction trigger.

Commits are full-replace snapshots through SnapshotStore (CAS manifest,
delta log, two-commit vacuum, time travel) — a rebuild publishes a new
version atomically while concurrent searches keep reading the old one, and
``history()`` shows every index build. Staleness is detected by a corpus
FINGERPRINT (count + id-sum, one tiny agg) recorded at build time and
checked on load: a regenerated or grown corpus triggers a rebuild instead
of silently serving a stale quantizer.

All training is deterministic (kmeans_fit / pq_train / opq_train init from
lowest ids, no RNG), so a rebuild over the same corpus produces the
identical model — build idempotence is testable equality, not luck.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_data_framework_spark.materialize import checkpoint_observed
from binance_data_framework_spark.operators import similarity as S
from binance_data_framework_spark.store import SnapshotStore


@dataclass
class AnnIndex:
    """Driver-side handle of one committed index version (model-sized)."""

    version: int
    dim: int
    n_centroids: int
    m_sub: int
    ksub: int
    n_vectors: int
    fingerprint: list[int]  # [count, id_sum]
    centroids: list[list[float]]
    pq_books: list[list[list[float]]]
    opq_rotation: list[list[float]]
    opq_books: list[list[list[float]]]
    lsh: dict  # pinned sign-LSH params {n_planes, n_tables, seed}
    # cell-count provenance (ADVICE r7 #4): True iff n_centroids was
    # DERIVED (auto_centroids) at build time, plus the occupancy target it
    # was derived with — maybe_rebuild() re-runs the same rule at the
    # current corpus size to decide when appends have outgrown the cells.
    # Defaults keep pre-r8 sidecars loadable (auto_cells False = never
    # auto-rebuild a pinned index).
    auto_cells: bool = False
    target_cell: int = 100_000


class AnnIndexStore(SnapshotStore):
    """Versioned ANN index artifacts (module docstring)."""

    def __init__(self, spark: SparkSession, root: str, id_col: str = "vec_id",
                 vec_col: str = "embedding"):
        super().__init__(spark, root)
        self.id_col = id_col
        self.vec_col = vec_col
        # footer id-range/row-count cache for the append membership probe
        # and fold trigger (immutable files; evicted against the live
        # list per sweep), per handle
        self._id_bounds_cache: dict = {}
        # remote-root fold-trigger base_rows, keyed by the bucketed code
        # file list — the bucketed layout only changes when a commit
        # rewrites codes/, so between folds the trigger stays metadata-
        # only instead of re-counting the whole layout per gate batch
        # (ADVICE r10 #4)
        self._base_rows_cache: tuple[tuple, int] | None = None
        # model component payloads, keyed by the live model file list:
        # model files are uuid-named and never rewritten, so an unchanged
        # list means an unchanged model and load() reads nothing. The raw
        # JSON is kept, not the parsed lists, so every load() hands out
        # its own objects
        self._model_memo: tuple[tuple, dict] | None = None

    # -- fingerprint -------------------------------------------------------
    def _fingerprint(self, df: DataFrame) -> list[int]:
        """[count, id_sum, content_sum] — content_sum folds xxhash64 of
        every VECTOR (order-independent sum of 31-bit chunks, decimal so it
        cannot overflow at any corpus size), so a regenerated corpus with
        the same ids but different vectors is detected as stale
        (code-review r6: a count+id fingerprint was content-blind and would
        silently serve a quantizer trained on the previous vectors)."""
        r = df.agg(*self._fingerprint_aggs()[:3]).first()
        return [int(r["n"]), int(r["s"] or 0), int(r["c"] or 0)]

    def _fingerprint_aggs(self):
        """The fingerprint's three aggregate expressions — shared by the
        standalone agg above and the observe() form (_ckpt_fingerprint),
        so the two paths cannot drift. The standalone path slices off the
        fourth 'nn' aggregate (ADVICE r13 #4): only the append dup check
        consumes it, and validate_against full-corpus scans should not pay
        for it."""
        return (
            F.count(F.lit(1)).alias("n"),
            F.sum(self.id_col).alias("s"),
            F.sum(self._content_hash().cast("decimal(38,0)")).alias("c"),
            # non-null id count — only the append dup check reads it (its
            # pre-r13 agg counted ids, not rows)
            F.count(self.id_col).alias("nn"),
        )

    def _ckpt_fingerprint(self, df: DataFrame):
        """(eager checkpoint of df, fingerprint of df) in ONE job: the
        three fingerprint sums ride the checkpoint's materialization pass
        as observe() metrics instead of running as a separate
        driver-synchronized agg afterwards (r13, guide §1.2/§5)."""
        out, r = checkpoint_observed(df, *self._fingerprint_aggs())
        return out, [int(r["n"]), int(r["s"] or 0), int(r["c"] or 0)], int(r["nn"])

    def _content_hash(self):
        """One vector's contribution to the fingerprint's content_sum —
        also persisted per code row (``chash``) so delete() can subtract
        deleted vectors' contributions from the committed fingerprint
        without touching the corpus."""
        return F.pmod(F.xxhash64(self.vec_col), F.lit(2147483648))

    # -- filtered-search decision cache -------------------------------------
    # VERDICT r9 #7: the selectivity-gated filtered search re-measures
    # predicate selectivity and re-collects per-probe completeness on every
    # invocation. For the repeated-query regime a persisted index exists
    # for, the measured decision — (selectivity, starved-probe set) per
    # predicate fingerprint — is as corpus-stable as the index itself, so
    # it persists NEXT TO the model sidecar under the SAME staleness rule:
    # entries are keyed by the index fingerprint and any entry written
    # against a different fingerprint is invisible (and dropped on the
    # next put). It is a CACHE, not state: losing it costs one
    # re-measurement, never correctness, so it sits outside the manifest
    # commit protocol (a torn write is prevented by the root commit lock;
    # a missing file is a clean miss).
    _FILTERED_CACHE = "filtered_search_cache.json"

    def _filtered_cache_read(self) -> dict:
        fs, path = self._fs_path(self._FILTERED_CACHE)
        if not fs.exists(path):
            return {}
        try:
            return json.loads(self._read_bytes(self._FILTERED_CACHE))
        except (ValueError, OSError):
            return {}

    def filtered_cache_get(self, key: str, fingerprint: list[int]) -> dict | None:
        ent = self._filtered_cache_read().get(key)
        if ent is None or ent.get("fingerprint") != list(fingerprint):
            return None
        return ent

    def filtered_cache_put(self, key: str, fingerprint: list[int], entry: dict) -> None:
        with self._commit_lock:
            cache = {
                k: v
                for k, v in self._filtered_cache_read().items()
                if v.get("fingerprint") == list(fingerprint)
            }
            cache[key] = {**entry, "fingerprint": list(fingerprint)}
            self._write_bytes(
                self._FILTERED_CACHE, json.dumps(cache).encode("utf-8")
            )

    def filtered_cache(self, fingerprint: list[int]):
        """get/put adapter binding this store + fingerprint — the protocol
        operators/similarity.topk_cosine_filtered_ivfpq accepts as
        ``cache=`` without knowing about stores or fingerprints."""
        store = self

        class _Bound:
            def get(self, key: str):
                return store.filtered_cache_get(key, fingerprint)

            def put(self, key: str, entry: dict):
                store.filtered_cache_put(key, fingerprint, entry)

        return _Bound()

    #: schema of the model sidecar — written by _write_model and supplied
    #: to load()'s read, so a cold load runs no schema-inference job
    _MODEL_SCHEMA = "component string, payload string"

    def _write_model(
        self,
        path: str,
        params: dict,
        fp: list[int],
        centroids,
        pq_books,
        opq_rotation,
        opq_books,
        lsh: dict,
    ) -> None:
        """The ONE model-sidecar writer shared by every committing path
        (build / append / delete) — a single definition of the component
        set, so a layout change cannot desynchronize the three commit
        paths (review r7 #6). ``path`` is the commit's staging dir."""
        model_rows = [
            (
                "meta",
                json.dumps(
                    {**params, "fingerprint": fp, "n_vectors": fp[0]}
                ),
            ),
            ("centroids", json.dumps(centroids)),
            ("pq_books", json.dumps(pq_books)),
            ("opq_rotation", json.dumps(opq_rotation)),
            ("opq_books", json.dumps(opq_books)),
            ("lsh", json.dumps(lsh)),
        ]
        (
            self.spark.createDataFrame(model_rows, self._MODEL_SCHEMA)
            .coalesce(1)
            .write.option("compression", "zstd")
            .mode("overwrite")
            .parquet(f"{path}/model")
        )

    @staticmethod
    def _model_rule(orig_man: dict, op: str):
        """_staged_commit conflict rule of the model-rolling commits
        (append / delete): the live model files must be exactly those of
        ``orig_man``, the manifest the rolled fingerprint was computed
        from — a racing append/rebuild raises (retry re-reads the
        rolled-forward model) instead of silently losing the other
        writer's fingerprint contribution. Removes the old model files."""
        orig_model = sorted(f for f in orig_man["files"] if f.startswith("model/"))

        def removed(latest: dict | None) -> list[str]:
            live = SnapshotStore._live(latest)
            if sorted(f for f in live if f.startswith("model/")) != orig_model:
                raise RuntimeError(
                    f"concurrent index write during {op}: the model files "
                    f"changed since this {op} read them — retry on the "
                    f"rolled-forward model"
                )
            return orig_model

        return removed

    # -- build -------------------------------------------------------------

    #: quantizer training points per IVF centroid (the FAISS-class rule of
    #: thumb: a few hundred points place a centroid; more only slows Lloyd
    #: down). Training sample cap = max(MIN, PER_CENTROID * n_centroids).
    TRAIN_SAMPLE_PER_CENTROID = 256
    #: training sample floor — PQ/OPQ codebooks (m_sub * ksub entries) and
    #: the OPQ rotation want enough residual mass even at low cell counts
    TRAIN_SAMPLE_MIN = 65_536

    def build(
        self,
        df: DataFrame,
        dim: int = 64,
        n_centroids: int | None = None,
        m_sub: int = 8,
        ksub: int = 16,
        lsh_planes: int = 4,
        lsh_tables: int = 6,
        force: bool = False,
        target_cell: int = 100_000,
    ) -> AnnIndex:
        """Train (or reuse) the full index for ``df``. If a committed
        version exists with a matching corpus fingerprint and params, it is
        returned without any training (idempotent ensure-built semantics —
        what a scheduler wants); ``force`` always retrains.

        n_centroids=None (the default) derives the IVF cell count from the
        corpus size (S.auto_centroids — IO-granularity-sized cells, ~100k
        codes each; see its docstring for why the target is NOT
        bucket-sized), using the count the fingerprint aggregate already
        computed; a pinned value certified at one corpus size makes
        probed-cell search candidates grow linearly with the corpus
        (three-decade ann_ops measurement). Pass an explicit value to pin
        a certified setting.

        One build = IVF k-means + plain-PQ codebooks + OPQ (rotation +
        codebooks) + two vectorized encode passes writing the
        cell-partitioned code layout + one commit. Past
        max(TRAIN_SAMPLE_MIN, TRAIN_SAMPLE_PER_CENTROID * n_centroids)
        vectors, ALL training runs on a deterministic id-hash sample of
        that size (S.train_sample) and only the assign/encode passes
        touch the full corpus — the sub-linear-training story (VERDICT
        r10 #1); at or below the cap the models are bit-identical to
        full-corpus training."""
        fp = self._fingerprint(df)
        auto_cells = n_centroids is None
        if n_centroids is None:
            n_centroids = S.auto_centroids(fp[0], target_cell)
        params = dict(
            dim=dim,
            n_centroids=n_centroids,
            m_sub=m_sub,
            ksub=ksub,
            # provenance for maybe_rebuild (ADVICE r7 #4): whether the cell
            # count was derived, and under which occupancy target
            auto_cells=auto_cells,
            target_cell=target_cell,
            # provenance only (not part of the idempotence identity):
            # the sampled-training cap this model was fitted under (r11)
            train_sample_cap=max(
                self.TRAIN_SAMPLE_MIN,
                self.TRAIN_SAMPLE_PER_CENTROID * n_centroids,
            ),
        )
        if not force:
            existing = self.load(validate_against=None)
            if (
                existing is not None
                and existing.fingerprint == fp
                and [existing.dim, existing.n_centroids, existing.m_sub, existing.ksub]
                == [dim, n_centroids, m_sub, ksub]
                # LSH params are part of the committed model too — a build()
                # requesting different planes/tables must retrain, not
                # silently return the old pinned values (ADVICE r6)
                and [existing.lsh.get("n_planes"), existing.lsh.get("n_tables")]
                == [lsh_planes, lsh_tables]
            ):
                return existing

        sub_dim = dim // m_sub
        # Sampled training (VERDICT r10 #1): Lloyd iterations only need
        # ~TRAIN_SAMPLE_PER_CENTROID points per centroid to place cells /
        # codebooks — training on the full corpus made build the one ANN
        # tier whose cost grew with EVERY pass over 100 TB. The sample is
        # a deterministic id-hash filter (S.train_sample: portable Knuth
        # mix, no RNG state), materialized ONCE as a sample-sized
        # checkpoint that all three trainings iterate over; the full
        # corpus is still assigned + encoded exactly once below. Corpora
        # at or below the cap train on everything — bit-identical models
        # to the unsampled path, so fixture indexes, recall certificates
        # and the oracle rows are untouched.
        train_df, train_frac = S.train_sample(
            df, fp[0], params["train_sample_cap"], self.id_col
        )
        if train_frac < 1.0:
            train_df = train_df.select(
                self.id_col, self.vec_col
            ).localCheckpoint(eager=False)
        centroids = S.kmeans_fit(
            train_df, n_centroids, 3, self.id_col, self.vec_col, dim
        )
        # _chash = this vector's contribution to the fingerprint's
        # content_sum, stored PER CODE ROW so delete() can subtract exactly
        # the deleted vectors' contributions without re-reading the corpus
        base = (
            S.with_norm(df, self.vec_col)
            .withColumn("_c", S._assign_udf(centroids)(F.col("_v")))
            .withColumn("_chash", self._content_hash())
        )
        # One corpus materialization, placed AFTER the residual projection
        # (r11): every downstream consumer — both encode passes and (on
        # at-or-below-cap corpora) both trainings — needs only
        # (id, cell, norm, chash, residual). Checkpointing BEFORE the
        # residual (the r10 layout) stored embedding + _v (two full vector
        # payloads per row, ~2.5x this checkpoint's bytes) and re-ran the
        # residual UDF on every scan of it.
        resid = base.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._residual_udf(centroids)(F.col("_v"), F.col("_c")).alias("_r"),
        ).localCheckpoint(eager=False)
        if train_frac < 1.0:
            # sample-sized residual lineage rooted at the sample
            # checkpoint: the ~10 training actions inside pq/opq iterate
            # over O(sample) rows instead of re-filtering the full-corpus
            # checkpoint per action
            train_resid = train_df.select(
                self.id_col,
                F.transform(
                    F.col(self.vec_col), lambda x: x.cast("double")
                ).alias("_v"),
            )
            train_resid = train_resid.select(
                self.id_col,
                S._residual_udf(centroids)(
                    F.col("_v"), S._assign_udf(centroids)(F.col("_v"))
                ).alias("_r"),
            ).localCheckpoint(eager=False)
        else:
            train_resid = resid
        pq_books = S.pq_train(train_resid, m_sub, ksub, 2, dim, self.id_col)
        rotation, opq_books = S.opq_train(
            train_resid, m_sub, ksub, 2, 2, dim, self.id_col
        )

        import numpy as np

        coded_pq = resid.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._pq_codes_udf(pq_books, sub_dim)(F.col("_r")).alias("_code"),
        ).withColumn("variant", F.lit("pq"))
        rotated = resid.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._rotate_udf(np.asarray(rotation))(F.col("_r")).alias("_rr"),
        )
        coded_opq = rotated.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._pq_codes_udf(opq_books, sub_dim)(F.col("_rr")).alias("_code"),
        ).withColumn("variant", F.lit("opq"))

        coded = (
            coded_pq.unionByName(coded_opq)
            .withColumnRenamed("_c", "cell")
            .withColumnRenamed("_code", "code")
            .withColumnRenamed("_norm", "norm")
            .withColumnRenamed("_chash", "chash")
        )

        def write(path: str) -> None:
            self._cell_writer(coded).save(f"{path}/codes")
            self._write_model(
                path,
                params,
                fp,
                centroids,
                pq_books,
                rotation,
                opq_books,
                {"n_planes": lsh_planes, "n_tables": lsh_tables, "seed": 42},
            )

        # full-replace: a rebuild supersedes every prior artifact file
        self._staged_commit(write, removed_fn=self._live)
        return self.load(validate_against=None)

    #: tombstone count above which append(purge="auto") folds the physical
    #: purge into its commit cycle — below it, tombstones stay masked (a
    #: correctness no-op; codes() anti-joins them on every search) and the
    #: O(affected-cells) rewrite waits for purge_tombstones() / the next
    #: rebuild, keeping append the O(delta) op its contract promises
    #: (ADVICE r7 #3)
    PURGE_APPEND_THRESHOLD = 4096

    #: appends of at most this many vectors land as ONE delta-run file
    #: (r10 — the band-index LSM lesson applied to the code layout: the
    #: bucketed append writes one file per touched (variant, cell), and a
    #: 2000-vector micro-batch into a 512-cell index measured 28.6 s,
    #: ~1000 near-empty files — 4x the entire near-dup gate batch).
    #: Larger appends (bulk loads) keep the bucketed write, where the
    #: per-cell files are worth their cost.
    CODES_DELTA_MAX_VECTORS = 100_000

    #: membership probes (skip_existing / duplicate checks) collect at most
    #: this many delta ids for the pushed-IN point scan; larger deltas keep
    #: the column-pruned join path (an IN of ~100k literals costs more to
    #: plan than the scan it saves)
    APPEND_PROBE_MAX = 16_384

    @staticmethod
    def _is_code_delta(rel: str) -> bool:
        return rel.startswith("codes_delta/")

    def _cell_writer(self, rows: DataFrame):
        """Writer of the bucketed code layout: one id-sorted file per
        (variant, cell)."""
        return (
            rows.repartition("variant", "cell")
            .sortWithinPartitions(self.id_col)
            .write.partitionBy("variant", "cell")
            .option("compression", "zstd")
            .mode("overwrite")
        )

    # _local_root() is inherited from SnapshotStore (hoisted in review
    # r10 round 2)

    def _id_bounds(
        self,
        relpaths: list[str],
        local_root: str,
        live_files: list[str] | None = None,
    ) -> dict:
        """(rel -> (id min | None, id max | None, n_rows | None)) from
        parquet footers, cached per immutable file against the live list
        (the BandIndexStore footer-cache rule). None bounds = no usable
        stats: always scan that file. None rows = footer unreadable
        (e.g. a concurrent writer's vacuum raced the sweep — review r10
        round 2 #4): the caller degrades to the scan path instead of
        crashing the append.

        ``live_files`` is the manifest's full file list: eviction keeps
        every live file's entry, not just this call's subset. Call sites
        pass different subsets (_committed_ids_among probes only pq codes
        + deltas; maybe_fold_code_deltas sweeps all codes + deltas), and
        in the gate both run every micro-batch — evicting against the
        per-call subset made each caller flush the other's entries,
        re-opening O(index) footers per batch (ADVICE r10 #1)."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _one(rel: str):
            try:
                md = pq.ParquetFile(os.path.join(local_root, rel)).metadata
            except Exception:
                return rel, (None, None, None)
            leaf = next(
                (
                    i
                    for i in range(len(md.schema))
                    if md.schema.column(i).name == self.id_col
                ),
                None,
            )
            if leaf is None:
                return rel, (None, None, md.num_rows)
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(leaf).statistics
                if st is None or not st.has_min_max:
                    return rel, (None, None, md.num_rows)
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            return rel, (lo, hi, md.num_rows)

        missing = [r for r in relpaths if r not in self._id_bounds_cache]
        if missing:
            with ThreadPoolExecutor(max_workers=16) as ex:
                for rel, b in ex.map(_one, missing):
                    # don't cache unreadable footers — the file may become
                    # readable (or vanish from the live list) next sweep
                    if b[2] is not None:
                        self._id_bounds_cache[rel] = b
        keep = set(relpaths) | set(live_files or ())
        for dead in [k for k in self._id_bounds_cache if k not in keep]:
            del self._id_bounds_cache[dead]
        return {
            r: self._id_bounds_cache.get(r, (None, None, None))
            for r in relpaths
        }

    def _committed_ids_among(
        self, delta: DataFrame, masked: bool
    ) -> DataFrame | None:
        """Delta ids already present in the committed code layout, as a
        small broadcastable frame — or None meaning "probe set too large,
        use the join path". Point probe (the DocumentStore.read_keys rule
        one tier over): collect the delta's distinct ids (micro-batch-
        sized by the append contract), prune the committed file list
        DRIVER-SIDE against cached footer id-ranges (code files are
        id-sorted within each (variant, cell), so the bounds are tight —
        a batch of genuinely new ids intersects zero files), then push
        the id list into a scan of only the hit files. The full column-
        pruned id scan paid ~7 s of per-file open overhead across 1024
        files per 2000-vector append; the pruned probe reads nothing when
        nothing matches."""
        ids = sorted(
            {
                r[self.id_col]
                for r in delta.select(self.id_col)
                .distinct()
                .limit(self.APPEND_PROBE_MAX + 1)
                .collect()
            }
        )
        if len(ids) > self.APPEND_PROBE_MAX:
            return None
        man = self._snapshot()
        files = [
            f
            for f in (man["files"] if man else [])
            if f.startswith("codes/variant=pq/") or self._is_code_delta(f)
        ]
        local_root = self._local_root()
        empty = (
            delta.select(self.id_col).limit(0)
        )
        if not files:
            return empty
        if local_root is not None:
            import bisect

            bounds = self._id_bounds(
                files, local_root, live_files=man["files"] if man else None
            )
            hits = []
            for rel in files:
                lo, hi, _n = bounds[rel]
                if (
                    lo is None
                    or hi is None
                    or bisect.bisect_left(ids, lo) < bisect.bisect_right(ids, hi)
                ):
                    hits.append(rel)
            if not hits:
                return empty
            files = hits
        # two-group read (bucketed vs delta schemas differ in partition
        # vs data columns); only the id column is needed from either
        parts = []
        bucketed = [f for f in files if not self._is_code_delta(f)]
        deltas = [f for f in files if self._is_code_delta(f)]
        if bucketed:
            parts.append(
                self.spark.read.option("basePath", f"{self.root}/codes")
                .parquet(*[f"{self.root}/{f}" for f in bucketed])
                .select(self.id_col)
            )
        if deltas:
            parts.append(
                self.spark.read.parquet(
                    *[f"{self.root}/{f}" for f in deltas]
                ).select(self.id_col)
            )
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        out = (
            scan.where(F.col(self.id_col).isin(ids))
            .distinct()
        )
        if masked:
            tomb = self._tombstones_from(man)
            if tomb is not None:
                out = out.join(F.broadcast(tomb), self.id_col, "left_anti")
        return out

    def _read_code_rows(
        self, bucketed: list[str], deltas: list[str]
    ) -> DataFrame:
        """Committed code rows (id, variant, cell, norm, code [, chash])
        from a mixed file list: bucketed files carry variant/cell as
        partition directories, delta runs carry them as data columns — one
        spark.read over both would make partition discovery and the
        in-file schema disagree (the BandIndexStore._read_files rule)."""
        parts = []
        if bucketed:
            parts.append(
                self._committed_parquet(bucketed, base_path=f"{self.root}/codes")
            )
        if deltas:
            parts.append(self._committed_parquet(deltas))
        with_chash = all("chash" in p.columns for p in parts)

        def _sel(p: DataFrame) -> DataFrame:
            # partition-column type inference makes bucketed variant/cell
            # str-or-int by config (ADVICE r7 #1) while delta runs store
            # them typed — normalize both sides before the union
            cols = [
                F.col(self.id_col),
                F.col("variant").cast("string").alias("variant"),
                F.col("cell").cast("int").alias("cell"),
                F.col("norm"),
                F.col("code"),
            ]
            if with_chash:
                cols.append(F.col("chash"))
            return p.select(*cols)

        out = _sel(parts[0])
        for p in parts[1:]:
            out = out.unionByName(_sel(p))
        return out

    # -- incremental append ------------------------------------------------
    def append(
        self,
        delta: DataFrame,
        check_duplicates: bool = True,
        skip_existing: bool = False,
        purge: str = "auto",
    ) -> AnnIndex:
        """Append NEW vectors to the committed index WITHOUT retraining:
        encode the delta with the committed quantizer (cell assignment,
        residual, PQ + OPQ codes), commit the new codes — as ONE sorted
        delta run for micro-batch-sized deltas (r10 LSM tier; bulk loads
        keep the bucketed per-cell write), and replace only the model
        sidecar (fingerprint and n_vectors roll forward). This is the
        third leg of the train-once story — build once / search many /
        APPEND often: a growing 100 TB corpus encodes only its delta per
        ingest cycle.

        The fingerprint is a vector of SUMS (count, id-sum, content-sum),
        so the rolled-forward value is by construction EQUAL to
        ``_fingerprint(full corpus)`` — ``load(validate_against=corpus)``
        still certifies freshness after any number of appends, with no
        special casing. Delta ids must be disjoint from the indexed ids
        (``check_duplicates`` verifies with a column-pruned id scan of the
        committed codes; an id collision would leave two codes for one
        vector AND break the fingerprint roll-forward). Quantizer drift is
        the caller's tradeoff, as in any IVF/PQ deployment: appends reuse
        centroids/codebooks trained on the original distribution; rebuild
        when recall certificates degrade.

        Concurrent appends: the commit's conflict rule (_model_rule)
        re-checks that the model files it read are still the live ones — a
        racing append/rebuild raises (retry re-reads the rolled-forward
        model) instead of silently losing the other writer's fingerprint
        contribution.

        ``purge`` decides when pending tombstones are physically reclaimed
        (ADVICE r7 #3 — the old unconditional purge attached an
        O(affected-cells) code rewrite to the documented O(delta) op, and
        the streaming gate's first micro-batch after a delete silently
        absorbed it):

        - ``"auto"`` (default): purge only when forced by correctness — a
          delta id with a live tombstone MUST purge first (without it the
          old physical row survives next to the new one and the eventual
          purge's id-keyed anti-join would delete BOTH: resurrect, then
          lose the legitimate re-add) — or when the tombstone set has
          grown past ``PURGE_APPEND_THRESHOLD``. The re-add check is
          O(delta): the tombstone set is takedown-sized and broadcast.
        - ``"always"``: the old behavior (purge whenever any tombstones
          exist) — for callers that want every append commit to leave a
          physically clean layout.
        - ``"never"``: never purge here; a re-added tombstoned id raises
          (call purge_tombstones() first). The explicit-maintenance mode.

        Deferred tombstones are a correctness no-op either way: every
        search path reads codes() masked."""
        if purge not in ("auto", "always", "never"):
            raise ValueError(f"append: unknown purge mode {purge!r}")
        # The delta plan feeds up to five separate ACTIONS below (re-add
        # check, fingerprint, in-delta dup agg, membership probe, encode +
        # write) — materialize it ONCE. Without this every action re-runs
        # the caller's upstream plan, which is NOT batch-sized in general:
        # the r11 20M-vector ann_ops point measured a fixed 2000-row
        # append at 85 s because its sort-limit delta plan re-scanned the
        # 20M-row corpus per action (14.6 s at 2M); with the checkpoint
        # the op is O(delta plan once + batch work). Bulk-load deltas
        # spill to disk via the default MEMORY_AND_DISK blocks. The
        # fingerprint rides this job as observe() metrics (re-observed on
        # the skip_existing re-checkpoint below, whose filtered frame is
        # the one the fingerprint must describe).
        delta, dfp, n_ids = self._ckpt_fingerprint(delta)
        tomb0 = self._tombstones_from(self._snapshot())
        if tomb0 is not None:
            if purge == "always":
                self.purge_tombstones()
            else:
                n_readd = delta.join(
                    F.broadcast(tomb0), self.id_col, "left_semi"
                ).count()
                if n_readd:
                    if purge == "never":
                        raise ValueError(
                            f"append: {n_readd} delta id(s) have live "
                            f"tombstones — run purge_tombstones() first "
                            f"(purge='never'), or use purge='auto'"
                        )
                    self.purge_tombstones()
                elif (
                    purge == "auto"
                    and tomb0.count() >= self.PURGE_APPEND_THRESHOLD
                ):
                    # threshold purge belongs to "auto" only: "never" is
                    # the explicit-maintenance mode and must not attach
                    # the O(affected-cells) rewrite it exists to avoid
                    # (ADVICE r8 #1)
                    self.purge_tombstones()
        idx = self.load()
        if idx is None:
            raise ValueError(
                f"AnnIndexStore at {self.root} is empty — build() before append()"
            )
        if skip_existing:
            # replay-idempotent form for streaming compositions: already-
            # indexed ids are FILTERED, not an error — the same column-
            # pruned committed-id scan check_duplicates pays, spent on an
            # anti-join instead of a count. A redelivered micro-batch
            # (checkpoint replay) converges to a no-op. EAGER checkpoint:
            # the filtered delta (batch-sized) feeds the fingerprint agg,
            # the in-delta dup agg, and the encode passes — without the
            # materialization each action re-runs the committed-id
            # anti-join scan (review r7 #2).
            existing = self._committed_ids_among(delta, masked=False)
            if existing is not None:
                delta, dfp, n_ids = self._ckpt_fingerprint(
                    delta.join(F.broadcast(existing), self.id_col, "left_anti")
                )
            else:  # oversized delta: the column-pruned join path
                delta, dfp, n_ids = self._ckpt_fingerprint(
                    delta.join(
                        self.codes("pq", masked=False).select(self.id_col),
                        self.id_col,
                        "left_anti",
                    )
                )
        # orig_man MUST be the manifest idx was parsed from (its version),
        # not a fresh _snapshot(): a rebuild landing between load() and a
        # later snapshot read would make the concurrency check (_model_rule)
        # compare against the NEW model while the encode below uses the
        # OLD one — committing stale-quantizer codes that the check can't
        # see (review r6b #1, TOCTOU).
        orig_man = self._resolve(idx.version)
        if dfp[0] == 0:
            return idx
        if check_duplicates:
            # one agg catches duplicates WITHIN the delta (they would
            # double-encode and inflate the rolled fingerprint — review
            # r6b #2). Distinct aggregates are not allowed in observed
            # metrics, so this one check stays a standalone action; the
            # row count comes from the checkpoint-observed fingerprint.
            nd = delta.select(
                F.count_distinct(self.id_col).alias("nd")
            ).first()["nd"]
            if n_ids != nd:
                raise ValueError(
                    f"append: {n_ids - nd} duplicate id(s) WITHIN the "
                    f"delta — each vector must appear once"
                )
            # the committed-id collision check is a column-pruned semi-join
            # — redundant (and skipped) when skip_existing already
            # anti-joined the same committed ids away (review r7 #2)
            if not skip_existing:
                existing = self._committed_ids_among(delta, masked=True)
                n_dup = (
                    existing.count()
                    if existing is not None
                    else delta.select(self.id_col)
                    .join(
                        self.codes("pq").select(self.id_col),
                        self.id_col,
                        "left_semi",
                    )
                    .count()
                )
                if n_dup:
                    raise ValueError(
                        f"append: {n_dup} delta id(s) already indexed — "
                        f"appends must be disjoint (upsert = delete + "
                        f"rebuild, or rebuild)"
                    )
        sub_dim = idx.dim // idx.m_sub
        centroids = idx.centroids
        base = (
            S.with_norm(delta, self.vec_col)
            .withColumn("_c", S._assign_udf(centroids)(F.col("_v")))
            .withColumn("_chash", self._content_hash())
        )
        # EAGER: unlike build(), append has no training collects to
        # materialize a lazy checkpoint before the code write, whose
        # pq/opq subtrees would otherwise each recompute the norm+assign
        # UDF pass over the whole delta (first-action-no-dedup trap;
        # review r6b #7)
        base = base.localCheckpoint(eager=True)
        resid = base.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._residual_udf(centroids)(F.col("_v"), F.col("_c")).alias("_r"),
        )

        import numpy as np

        coded_pq = resid.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._pq_codes_udf(idx.pq_books, sub_dim)(F.col("_r")).alias("_code"),
        ).withColumn("variant", F.lit("pq"))
        rotated = resid.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._rotate_udf(np.asarray(idx.opq_rotation))(F.col("_r")).alias("_rr"),
        )
        coded_opq = rotated.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._pq_codes_udf(idx.opq_books, sub_dim)(F.col("_rr")).alias("_code"),
        ).withColumn("variant", F.lit("opq"))

        # stores committed before delete support lack the chash column;
        # keep their code schema uniform (delete stays unsupported there
        # until a rebuild) instead of writing mixed-schema cell files
        first_code = next(
            (f for f in orig_man["files"] if f.startswith("codes/")), None
        )
        if first_code is not None and "chash" not in (
            self._committed_parquet(
                [first_code], base_path=f"{self.root}/codes"
            ).columns
        ):
            coded_pq = coded_pq.drop("_chash")
            coded_opq = coded_opq.drop("_chash")

        coded = (
            coded_pq.unionByName(coded_opq)
            .withColumnRenamed("_c", "cell")
            .withColumnRenamed("_code", "code")
            .withColumnRenamed("_norm", "norm")
            .withColumnRenamed("_chash", "chash")
        )
        new_fp = [a + b for a, b in zip(idx.fingerprint, dfp)]
        params = dict(
            dim=idx.dim,
            n_centroids=idx.n_centroids,
            m_sub=idx.m_sub,
            ksub=idx.ksub,
            # carry the cell-count provenance forward (a commit that drops
            # it would reset auto_cells to False and silence maybe_rebuild)
            auto_cells=idx.auto_cells,
            target_cell=idx.target_cell,
        )

        def write(path: str) -> None:
            if dfp[0] <= self.CODES_DELTA_MAX_VECTORS:
                # delta-run write (r10): a micro-batch append lands as ONE
                # (variant, cell)-sorted file instead of one near-empty file
                # per touched (variant, cell) — measured 28.6 s / ~1000
                # files for a 2000-vector batch at 512 cells on the bucketed
                # path. Lookups consult runs alongside the bucket layout
                # (codes()); maybe_fold_code_deltas() merges them at a
                # rows-fraction trigger, amortizing the rewrite to O(delta)
                # per append.
                (
                    # repartition, NOT coalesce: coalesce(1) propagates up
                    # and single-threads the whole encode chain (measured
                    # 10.3 s of the append); the shuffle is batch-sized
                    coded.repartition(1)
                    .sortWithinPartitions("variant", "cell")
                    .write.option("compression", "zstd")
                    .mode("overwrite")
                    .save(f"{path}/codes_delta")
                )
            else:
                self._cell_writer(coded).save(f"{path}/codes")
            self._write_model(
                path,
                params,
                new_fp,
                idx.centroids,
                idx.pq_books,
                idx.opq_rotation,
                idx.opq_books,
                idx.lsh,
            )

        self._staged_commit(write, removed_fn=self._model_rule(orig_man, "append"))
        return self.load()

    # -- load / read -------------------------------------------------------
    def load(self, validate_against: DataFrame | None = None) -> AnnIndex | None:
        """Latest committed index, or None if the store is empty.
        ``validate_against``: when given, the stored fingerprint is checked
        against the CURRENT corpus and a stale index returns None (callers
        then rebuild) — one tiny agg, the price of never serving a
        quantizer trained on different data.

        The model components are memoized per handle against the live
        model file list (see ``_model_memo``): only a commit that replaced
        the model costs a read (one collect, no schema inference)."""
        man = self._snapshot()
        if not man or not man["files"]:
            return None
        model_files = tuple(sorted(f for f in man["files"] if f.startswith("model/")))
        if not model_files:
            return None
        if self._model_memo is None or self._model_memo[0] != model_files:
            rows = (
                self.spark.read.schema(self._MODEL_SCHEMA)
                .parquet(*[f"{self.root}/{f}" for f in model_files])
                .collect()
            )
            self._model_memo = (
                model_files,
                {r["component"]: r["payload"] for r in rows},
            )
        comp = {k: json.loads(v) for k, v in self._model_memo[1].items()}
        meta = comp["meta"]
        idx = AnnIndex(
            version=man["version"],
            dim=meta["dim"],
            n_centroids=meta["n_centroids"],
            m_sub=meta["m_sub"],
            ksub=meta["ksub"],
            n_vectors=meta["n_vectors"],
            fingerprint=list(meta["fingerprint"]),
            centroids=comp["centroids"],
            pq_books=comp["pq_books"],
            opq_rotation=comp["opq_rotation"],
            opq_books=comp["opq_books"],
            lsh=comp["lsh"],
            auto_cells=meta.get("auto_cells", False),
            target_cell=meta.get("target_cell", 100_000),
        )
        if validate_against is not None:
            if self._fingerprint(validate_against) != idx.fingerprint:
                return None
        return idx

    def _tombstones_from(self, man: dict | None) -> DataFrame | None:
        """Committed tombstone set (deleted-but-not-yet-purged ids) of the
        given manifest, or None when there are no tombstones. Tiny by
        contract (takedown/opt-out-sized) — broadcastable."""
        if not man:
            return None
        tf = [f for f in man["files"] if f.startswith("tombstones/")]
        if not tf:
            return None
        return self._committed_parquet(tf).select(self.id_col).distinct()

    def tombstones(self) -> DataFrame | None:
        return self._tombstones_from(self._snapshot())

    def codes(
        self,
        variant: str = "opq",
        cells: list[int] | None = None,
        masked: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """The persisted code layout of the latest snapshot, optionally
        pruned to the given IVF cells. The prune is PHYSICAL: the committed
        file listing is cut driver-side to ``cell=<c>`` directories (the
        manifest-level analogue of partition pruning — the scan never even
        indexes the other cells' files). Returns (id, _c, _norm, _code
        [, _chash]).

        ``masked`` (default) anti-joins the broadcast tombstone set, so
        every search path automatically stops returning deleted vectors
        the moment a delete() commits — purge is a cost optimization, not
        a correctness requirement. ``masked=False`` is the maintenance
        view (purge, audits of the physical layout).

        ``version`` (default latest) pins the read to one committed
        manifest version — a searcher holding an AnnIndex handle passes
        ``version=idx.version`` so the codes it decodes were written by
        the SAME model snapshot as the centroids/codebooks it decodes
        them with (a rebuild committing between load() and codes() must
        not mix new codes with stale books — ADVICE r11 #1). The vacuum
        retention window (two snapshots) bounds how stale a pinned
        handle may be; a handle older than that raises on the manifest
        read, which is the correct 'reload and retry' signal."""
        if variant not in ("pq", "opq"):
            raise ValueError(f"unknown codes variant {variant!r}")
        man = self._snapshot() if version is None else self._resolve(int(version))
        if not man:
            raise ValueError(f"AnnIndexStore at {self.root} is empty")
        prefix = f"codes/variant={variant}/"
        variant_files = [f for f in man["files"] if f.startswith(prefix)]
        # delta runs (r10 LSM appends) carry variant/cell as data columns:
        # unpruned at the file level (they are batch-sized by construction,
        # a probe must always consult them), variant/cell-filtered in-scan
        # (sorted writes give the row groups tight stats)
        deltas = [f for f in man["files"] if self._is_code_delta(f)]
        # error contract is maintenance-state-independent (ADVICE r10 #3):
        # a variant absent from the committed layout raises whether or not
        # a delta run happens to be live; a cell prune that hits nothing
        # returns an empty frame (never raises) on both sides of a fold
        # boundary.
        if not variant_files and not deltas:
            raise ValueError(
                f"no code files for variant={variant} at {self.root}"
            )
        files = variant_files
        if cells is not None:
            allowed = {f"cell={c}" for c in cells}
            files = [f for f in files if f[len(prefix):].split("/", 1)[0] in allowed]
        if not files and not deltas:
            # cell prune matched nothing and no delta runs are live:
            # empty frame with the committed schema (one footer read,
            # F.lit(False) prunes every row group — no data scan)
            df = self._read_code_rows(variant_files[:1], []).where(
                F.lit(False)
            )
        else:
            df = self._read_code_rows(files, deltas).where(
                F.col("variant") == variant
            )
        if cells is not None:
            df = df.where(F.col("cell").isin([int(c) for c in cells]))
        sel = [
            F.col(self.id_col),
            F.col("cell").alias("_c"),
            F.col("norm").alias("_norm"),
            F.col("code").alias("_code"),
        ]
        if "chash" in df.columns:  # pre-delete-support stores lack it
            sel.append(F.col("chash").alias("_chash"))
        out = df.select(*sel)
        if masked:
            tomb = self._tombstones_from(man)
            if tomb is not None:
                out = out.join(F.broadcast(tomb), self.id_col, "left_anti")
        return out

    # -- delete (the fourth leg: build / search / append / FORGET) ---------
    def delete(self, keys: DataFrame) -> AnnIndex:
        """Tombstone the given ids (VERDICT r6 #2 — takedown/opt-out/
        decontamination removal as a first-class index op): one commit that
        (a) adds the matched ids to the committed tombstone set and (b)
        rolls the sum-decomposable fingerprint DOWN by exactly the deleted
        vectors' contributions, read from their persisted ``chash`` code
        rows — no corpus access, O(tombstone) new bytes, zero code-file
        rewrites. Searches exclude tombstoned ids immediately (codes() is
        masked by default); the physical code rows are reclaimed by
        purge_tombstones(), which append() runs automatically — at 100 TB
        you forget a document by writing kilobytes now and letting the next
        maintenance commit reclaim the bytes, never by rebuilding.

        Idempotent: ids already tombstoned or never indexed are skipped
        (their fingerprint contribution must not be subtracted twice).
        Returns the rolled-down index handle (unchanged if nothing
        matched). Reference analogue: delete_data
        (database_handler.py:243-255) — the reference deletes rows; the
        index tier follows suit."""
        idx = self.load()
        if idx is None:
            raise ValueError(
                f"AnnIndexStore at {self.root} is empty — nothing to delete"
            )
        orig_man = self._resolve(idx.version)
        pq = self.codes("pq", masked=False)
        if "_chash" not in pq.columns:
            raise ValueError(
                "this index predates delete support (no per-vector chash in "
                "the code layout) — rebuild with force=True to enable delete"
            )
        k = keys.select(self.id_col).distinct()
        tomb = self._tombstones_from(orig_man)
        if tomb is not None:
            k = k.join(tomb, self.id_col, "left_anti")
        matched = (
            pq.join(k, self.id_col, "left_semi")
            .select(self.id_col, "_chash")
            .localCheckpoint(eager=True)  # tombstone-sized; read once
        )
        agg = matched.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(self.id_col).alias("s"),
            F.sum(F.col("_chash").cast("decimal(38,0)")).alias("c"),
        ).first()
        n_del = int(agg["n"])
        if n_del == 0:
            return idx
        new_fp = [
            idx.fingerprint[0] - n_del,
            idx.fingerprint[1] - int(agg["s"]),
            idx.fingerprint[2] - int(agg["c"]),
        ]
        params = dict(
            dim=idx.dim,
            n_centroids=idx.n_centroids,
            m_sub=idx.m_sub,
            ksub=idx.ksub,
            # carry the cell-count provenance forward (a commit that drops
            # it would reset auto_cells to False and silence maybe_rebuild)
            auto_cells=idx.auto_cells,
            target_cell=idx.target_cell,
        )

        def write(path: str) -> None:
            (
                matched.select(self.id_col)
                .coalesce(1)
                .write.option("compression", "zstd")
                .mode("overwrite")
                .parquet(f"{path}/tombstones")
            )
            self._write_model(
                path,
                params,
                new_fp,
                idx.centroids,
                idx.pq_books,
                idx.opq_rotation,
                idx.opq_books,
                idx.lsh,
            )

        # prior tombstone files stay live (they accumulate until purge)
        self._staged_commit(write, removed_fn=self._model_rule(orig_man, "delete"))
        return self.load()

    def purge_tombstones(self) -> int:
        """Physically reclaim tombstoned vectors: rewrite ONLY the
        (variant, cell) code partitions that actually hold tombstoned rows
        — found by one tombstone-sized semi-join — without those rows, and
        retire the tombstone files, in one commit. The model sidecar is
        untouched (the fingerprint already rolled at delete time), so a
        purge commutes with concurrent searches and is idempotent: a
        second call sees no tombstones and returns 0. Returns the number
        of ids purged."""
        man = self._snapshot()
        if not man:
            return 0
        tomb_files = [f for f in man["files"] if f.startswith("tombstones/")]
        if not tomb_files:
            return 0
        tomb = (
            self.spark.read.parquet(*[f"{self.root}/{f}" for f in tomb_files])
            .select(self.id_col)
            .distinct()
            .localCheckpoint(eager=True)  # read BEFORE its files retire
        )
        code_files = [f for f in man["files"] if f.startswith("codes/")]
        delta_files = [f for f in man["files"] if self._is_code_delta(f)]
        all_codes = self._read_code_rows(code_files, delta_files)
        # normalize BOTH sides to (str, int): r["cell"] collects as int only
        # when partition-column type inference is on (the default) — with it
        # disabled the collected value is a string, the set intersection
        # with _vc's int-cast paths comes out empty, and the commit below
        # would retire the tombstone files WITHOUT rewriting any code rows,
        # physically resurrecting deleted vectors in masked search
        # (ADVICE r7 #1 — make the match config-independent)
        hit = {
            (str(r["variant"]), int(r["cell"]))
            for r in all_codes.join(
                F.broadcast(tomb), self.id_col, "left_semi"
            )
            .select("variant", "cell")
            .distinct()
            .collect()  # tombstone-bounded: <= 2 * |tombstones| pairs
        }

        def _vc(rel: str) -> tuple[str, int] | None:
            parts = rel.split("/")
            if len(parts) < 3:
                return None
            return (
                parts[1].split("=", 1)[1],
                int(parts[2].split("=", 1)[1]),
            )

        affected = [f for f in code_files if _vc(f) in hit]
        # a tombstoned row can also sit in a delta run (r10 LSM appends) —
        # rewrite them all alongside the hit cells (they are delta-
        # fraction-bounded, and the rewrite folds them into the bucket
        # layout as a side effect)
        affected_deltas = delta_files

        def write(path: str) -> None:
            if affected or affected_deltas:
                self._cell_writer(
                    self._read_code_rows(affected, affected_deltas).join(
                        F.broadcast(tomb), self.id_col, "left_anti"
                    )
                ).save(f"{path}/codes")

        self._staged_commit(
            write,
            affected + affected_deltas + tomb_files,
            op="purge_tombstones",
            kind="index",
        )
        return tomb.count()

    def compact_codes(self, min_files: int = 2, fold_deltas: bool = False) -> int:
        """Small-file maintenance for the streaming-append lifecycle:
        bulk appends write NEW file(s) into each touched (variant, cell)
        code partition, so a cell fed by many loads accumulates tiny
        files and probed-cell scan cost drifts from O(codes) to
        O(files + codes). Rewrite every cell holding >= ``min_files``
        committed files into ONE sorted file, retiring the fragments in a
        single commit. With ``fold_deltas=True``, delta runs (r10
        micro-batch appends) also fold into the bucketed layout — their
        rows route into many cells, so that IS a full-layout rewrite,
        reserved for the amortized trigger (maybe_fold_code_deltas) and
        explicit OPTIMIZE calls; the default keeps this op at its
        O(fragmented cells) contract even while runs are live.

        Layout-only: row content is preserved exactly — tombstoned rows
        are NOT dropped (purge_tombstones owns physical deletion) and the
        model sidecar is untouched, so searches before and after are
        identical and the compaction commutes with concurrent reads.
        Idempotent (a second call finds single-file cells and commits
        nothing); a concurrent writer retiring an affected file fails the
        commit cleanly — retry after reloading. Returns the number of
        (variant, cell) partitions compacted."""
        man = self._snapshot()
        if not man:
            return 0
        from collections import Counter

        code_files = [f for f in man["files"] if f.startswith("codes/")]
        delta_files = [f for f in man["files"] if self._is_code_delta(f)]

        def _vc(rel: str) -> tuple[str, str] | None:
            parts = rel.split("/")
            return (parts[1], parts[2]) if len(parts) >= 3 else None

        counts = Counter(vc for f in code_files if (vc := _vc(f)))
        hit = {vc for vc, n in counts.items() if n >= min_files}
        folding = fold_deltas and bool(delta_files)
        if not hit and not folding:
            return 0
        if folding:
            # delta runs (r10 LSM appends) route rows into many cells, so
            # folding them forces those cells' rewrite — like the band
            # index, a fold IS the full rewrite the amortized trigger
            # (maybe_fold_code_deltas) schedules. Without fold_deltas the
            # O(fragmented cells) contract holds even while runs are live
            # (review r10 round 2 #1: the gate's per-cell fragment leg
            # must not silently become an O(index) rewrite).
            affected = list(code_files)
        else:
            affected = [f for f in code_files if _vc(f) in hit]
        folded_deltas = delta_files if folding else []
        frag = self._read_code_rows(affected, folded_deltas)
        self._staged_commit(
            lambda path: self._cell_writer(frag).save(f"{path}/codes"),
            affected + folded_deltas,
            op="compact_codes",
            kind="index",
        )
        # folded-deltas-only compactions still did work: report >= 1
        return len(hit) or (1 if folded_deltas else 0)

    #: fold regardless of row fraction once this many delta-run FILES are
    #: live — without a file-count arm, a stream of tiny batches could
    #: park thousands of runs below the row floor and every lookup would
    #: pay O(runs) file overhead again (review r10 round 2 #2)
    DELTA_FOLD_MAX_FILES = 64

    def maybe_fold_code_deltas(self, max_fraction: float = 0.02) -> bool:
        """Amortized LSM fold trigger for code delta runs (r10, pairs with
        append()'s delta-run write — the BandIndexStore.maybe_fold_deltas
        rule applied to the code layout): fold the runs into the bucketed
        cell layout once their rows reach ``max_fraction`` of the
        committed base (row floor: 2*CODES_DELTA_MAX_VECTORS code rows =
        one maximal delta-append's worth, pq+opq), or once
        DELTA_FOLD_MAX_FILES runs are live regardless of rows. Counts
        come from the cached footer sweep on local roots (driver-side, no
        Spark job — the trigger runs every gate batch) and fall back to
        footer-bound Spark counts elsewhere. The fold itself is
        compact_codes(fold_deltas=True)'s full rewrite, whose cost
        amortizes to O(delta) per append at fraction f; lookup overhead
        between folds is bounded by the same fraction plus the file cap.
        Returns True iff a fold was committed."""
        man = self._snapshot()
        if not man:
            return False
        delta_files = [f for f in man["files"] if self._is_code_delta(f)]
        if not delta_files:
            return False
        bucketed = [f for f in man["files"] if f.startswith("codes/")]
        if len(delta_files) < self.DELTA_FOLD_MAX_FILES:
            local_root = self._local_root()
            delta_rows = base_rows = 0
            if local_root is not None:
                bounds = self._id_bounds(
                    delta_files + bucketed, local_root,
                    live_files=man["files"],
                )
                counts = [b[2] for b in bounds.values()]
                if all(n is not None for n in counts):
                    delta_rows = sum(
                        bounds[f][2] for f in delta_files
                    )
                    base_rows = sum(bounds[f][2] for f in bucketed)
                else:
                    local_root = None  # unreadable footer: Spark fallback
            if local_root is None:
                # remote roots (hdfs/s3a): the delta count scans O(delta
                # runs) — batch-sized by the append contract — every
                # trigger, but base_rows over the ENTIRE bucketed layout
                # is cached against the file list, which only changes
                # when a fold/compact/build commit rewrites codes/
                # (ADVICE r10 #4: this was a per-micro-batch O(index)
                # count job for an 'O(1) driver-side check')
                delta_rows = self.spark.read.parquet(
                    *[f"{self.root}/{f}" for f in delta_files]
                ).count()
                base_key = tuple(sorted(bucketed))
                if (
                    self._base_rows_cache is not None
                    and self._base_rows_cache[0] == base_key
                ):
                    base_rows = self._base_rows_cache[1]
                else:
                    base_rows = (
                        self.spark.read.option(
                            "basePath", f"{self.root}/codes"
                        )
                        .parquet(*[f"{self.root}/{f}" for f in bucketed])
                        .count()
                        if bucketed
                        else 0
                    )
                    self._base_rows_cache = (base_key, base_rows)
            floor = 2 * self.CODES_DELTA_MAX_VECTORS
            if delta_rows < max(floor, max_fraction * base_rows):
                return False
        return self.compact_codes(min_files=2, fold_deltas=True) > 0

    def maybe_rebuild(
        self, corpus: DataFrame, grow_factor: float = 2.0
    ) -> bool:
        """Maintenance trigger for an index grown through appends
        (ADVICE r7 #4): append() reuses the committed quantizer AND cell
        count by design, so an index auto-sized at its first build keeps
        batch-1's n_centroids (and a quantizer trained on batch-1's
        distribution) while the corpus grows 1000x underneath it —
        re-introducing the linear per-cell candidate growth auto_centroids
        exists to prevent. This re-runs the SAME derivation at the CURRENT
        committed size and retrains (force build over ``corpus``) when the
        rule asks for >= ``grow_factor`` x the committed cell count.

        The check is O(1) driver-side (two sidecar fields); the rebuild is
        the corpus-sized op, by design — call this at a maintenance cadence
        (the streaming gate calls it per accepted batch; it no-ops until
        the threshold trips). Pinned-cell indexes (built with an explicit
        n_centroids) never auto-rebuild: auto_cells is recorded provenance,
        not a guess. Returns True iff a rebuild was committed."""
        idx = self.load()
        if idx is None or not idx.auto_cells:
            return False
        ideal = S.auto_centroids(idx.n_vectors, idx.target_cell)
        if ideal < grow_factor * idx.n_centroids:
            return False
        self.build(
            corpus,
            dim=idx.dim,
            n_centroids=None,  # re-derive at the current size
            m_sub=idx.m_sub,
            ksub=idx.ksub,
            lsh_planes=idx.lsh["n_planes"],
            lsh_tables=idx.lsh["n_tables"],
            force=True,
            target_cell=idx.target_cell,
        )
        return True


def ensure_index(
    spark: SparkSession, df: DataFrame, root: str, **build_kwargs
) -> tuple[AnnIndexStore, AnnIndex]:
    """Ensure-built helper: open the store, return a fingerprint-valid
    index (building/rebuilding only when missing or stale)."""
    st = AnnIndexStore(spark, root)
    idx = st.load(validate_against=df)
    if idx is None:
        idx = st.build(df, **build_kwargs)
    return st, idx
