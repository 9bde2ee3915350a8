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
    the bucketed layout; ``maybe_fold_code_deltas`` merges them at the
    shared SnapshotStore fold trigger (rows fraction or run-file count).

Commits are full-replace snapshots through SnapshotStore (CAS manifest,
delta log, two-commit vacuum, time travel) — a rebuild publishes a new
version atomically while concurrent searches keep reading the old one, and
``history()`` shows every index build. Staleness is detected by a corpus
FINGERPRINT (count + id-sum, one tiny agg) recorded at build time and
checked on load: a regenerated or grown corpus triggers a rebuild instead
of silently serving a stale quantizer.

All training is deterministic: the S.train_* kernels init from the lowest
ids (no RNG) and sum in id order over a driver-side matrix (one Arrow
collect of the corpus or its training sample), so a rebuild over the same
corpus produces the identical model however Spark partitioned it — build
idempotence is testable equality, not luck. Only a sample past
S.TRAIN_DRIVER_MAX_BYTES trains in the Spark trainers' loops, whose float
sums follow the partitioning. A corpus within append()'s
size rule is also encoded and written on the driver (build()).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_data_framework_spark.materialize import checkpoint_observed
from binance_data_framework_spark.operators import similarity as S
from binance_data_framework_spark.store import SnapshotStore, _maintenance, _saving


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

    maintain = _maintenance(
        "maybe_rebuild", "maybe_fold_code_deltas", "compact_codes"
    )

    def __init__(self, spark: SparkSession, root: str, id_col: str = "vec_id",
                 vec_col: str = "embedding"):
        super().__init__(spark, root)
        self.id_col = id_col
        self.vec_col = vec_col
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

    def _delta_projection(self, df: DataFrame) -> DataFrame:
        """``df`` plus the driver encode's inputs: the vector as doubles
        (_v), its norm and its content hash (_chash) — Spark expressions,
        so every append path normalizes and hashes a vector identically."""
        return S.with_norm(df, self.vec_col).withColumn("_chash", self._content_hash())

    def _delta_table(self, df: DataFrame):
        """The id and _delta_projection columns of ``df``, collected
        through Arrow in one job: what the driver encode reads."""
        cols = (self.id_col, "_v", "_norm", "_chash")
        return self._delta_projection(df).select(*cols).toArrow()

    # -- the encode plan ----------------------------------------------------
    # The distributed paths of build() and append() encode with these
    # three steps; each places its own checkpoint between them and picks
    # its own writer. Their driver paths compute the same rows with
    # S.encode_ivfpq over the same kernels (_code_table).
    def _assigned(self, df: DataFrame, centroids) -> DataFrame:
        """``df``'s _delta_projection plus its IVF cell ``_c``."""
        return self._delta_projection(df).withColumn(
            "_c", S._assign_udf(centroids)(F.col("_v"))
        )

    def _residuals(self, assigned: DataFrame, centroids) -> DataFrame:
        """(id, _c, _norm, _chash, _r) of an _assigned frame: ``_r`` is
        the vector minus its cell's centroid."""
        return assigned.select(
            self.id_col,
            "_c",
            "_norm",
            "_chash",
            S._residual_udf(centroids)(F.col("_v"), F.col("_c")).alias("_r"),
        )

    def _code_rows(
        self, resid: DataFrame, sub_dim: int, pq_books, rotation, opq_books
    ) -> DataFrame:
        """The code rows (id, cell, norm[, chash], code, variant) of a
        _residuals frame (without ``_chash`` for a legacy layout): the PQ
        codes of each residual and the OPQ codes of its rotation, one row
        per vector and variant."""
        coded = (
            S.pq_code_rows(resid, books, sub_dim, rot).withColumn("variant", F.lit(v))
            for v, books, rot in (("pq", pq_books, None), ("opq", opq_books, rotation))
        )
        return reduce(DataFrame.unionByName, coded).withColumnsRenamed(
            {"_c": "cell", "_code": "code", "_norm": "norm", "_chash": "chash"}
        )

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

    #: schema of the model sidecar — written by _commit_model and supplied
    #: to load()'s read, so a cold load runs no schema-inference job
    _MODEL_SCHEMA = "component string, payload string"

    def _commit_model(
        self,
        write_data,
        removed_fn,
        params: dict,
        fp: list[int],
        centroids,
        pq_books,
        opq_rotation,
        opq_books,
        lsh: dict,
    ) -> AnnIndex:
        """The ONE model-committing write shared by build / append / delete
        — a single definition of the component set, so a layout change
        cannot desynchronize the three commit paths (review r7 #6).
        ``write_data(path)`` stages the commit's data files (and reports
        their schemas, see _staged_commit), the model sidecar is staged
        beside them, and ``removed_fn`` is the _staged_commit conflict
        rule. The model memo is primed with the payload just written,
        keyed by the committed model files, so the closing load() reads
        nothing; a later commit by another writer changes the live model
        files and misses the memo."""
        payload = {
            "meta": json.dumps({**params, "fingerprint": fp, "n_vectors": fp[0]}),
            "centroids": json.dumps(centroids),
            "pq_books": json.dumps(pq_books),
            "opq_rotation": json.dumps(opq_rotation),
            "opq_books": json.dumps(opq_books),
            "lsh": json.dumps(lsh),
        }

        import pyarrow as pa

        save_model = self._arrow_saving(
            pa.table({"component": list(payload), "payload": list(payload.values())}),
            "model",
        )

        def write(path: str) -> dict:
            return {**write_data(path), **save_model(path)}

        new_files = self._staged_commit(write, removed_fn=removed_fn)
        self._model_memo = (
            tuple(sorted(f for f in new_files if f.startswith("model/"))),
            payload,
        )
        return self.load()

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
        codebooks) + the PQ and OPQ encode of every vector into the
        cell-partitioned code layout + one commit. Past
        max(TRAIN_SAMPLE_MIN, TRAIN_SAMPLE_PER_CENTROID * n_centroids)
        vectors, ALL training runs on a deterministic id-hash sample of
        that size (S.train_sample) and only the assign/encode passes
        touch the full corpus — the sub-linear-training story (VERDICT
        r10 #1); at or below the cap the models equal full-corpus
        training.

        ``df`` may be a frame or a pyarrow Table of id and
        _delta_projection columns, and append()'s size rule picks the
        path. A corpus of at most min(APPEND_PROBE_MAX,
        CODES_DELTA_MAX_VECTORS) vectors that needs no sample (a frame is
        collected once, ``bound + 1`` rows at most) is fingerprinted,
        trained (the S.train_* kernels), encoded (S.encode_ivfpq) and
        written (_arrow_saving) on the driver: no Spark job for a Table on
        a local root. A larger one keeps the fingerprint agg and the
        Spark encode, so a Table of it must also carry ``vec_col``; its
        training sample is collected once and trained by S.train_ivfpq
        when S.fits_driver holds, else by the S trainers' Spark loops."""
        bound = min(self.APPEND_PROBE_MAX, self.CODES_DELTA_MAX_VECTORS)
        is_frame = isinstance(df, DataFrame)
        table = self._delta_table(df.limit(bound + 1)) if is_frame else df
        if is_frame and table.num_rows > bound:
            fp = self._fingerprint(df)
        else:
            fp = self._table_fp(table)
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

        cap = params["train_sample_cap"]
        if fp[0] <= min(bound, cap):
            v = S.table_matrix(table.sort_by(self.id_col), "_v")
            model = S.train_ivfpq(v, n_centroids, m_sub, ksub)
            write = self._arrow_saving(
                self._code_table(table, model, with_chash=True),
                "codes",
                partition_by=("variant", "cell"),
                sort_by=(self.id_col,),
            )
        else:
            if not is_frame:
                if self.vec_col not in df.column_names:
                    raise ValueError(
                        f"a Table of more than {min(bound, cap)} vectors "
                        f"needs its {self.vec_col!r} column"
                    )
                df = self.spark.createDataFrame(df.select([self.id_col, self.vec_col]))
            # Sampled training (VERDICT r10 #1): Lloyd iterations only need
            # ~TRAIN_SAMPLE_PER_CENTROID points per centroid. The sample is
            # a deterministic id-hash filter (S.train_sample: portable Knuth
            # mix, no RNG state) of about min(corpus, cap) rows, trained
            # on the driver from one collect when that many fit, else by
            # the Spark trainers over its lazy checkpoints.
            train_df, _ = S.train_sample(df, fp[0], cap, self.id_col)
            if S.fits_driver(min(fp[0], cap), dim):
                v = S.driver_matrix(train_df, self.id_col, self.vec_col)
                model = S.train_ivfpq(v, n_centroids, m_sub, ksub)
            else:
                # lazy checkpoints: each trainer's first action fills
                # what the later ones re-read
                train_df = train_df.select(self.id_col, self.vec_col)
                train_df = train_df.localCheckpoint(eager=False)
                cents = S.kmeans_fit(
                    train_df, n_centroids, 3, self.id_col, self.vec_col, dim
                )
                vd = F.transform(F.col(self.vec_col), lambda x: x.cast("double"))
                train_resid = train_df.select(
                    self.id_col,
                    S._residual_udf(cents)(vd, S._assign_udf(cents)(vd)).alias("_r"),
                ).localCheckpoint(eager=False)
                model = [
                    cents,
                    S.pq_train(train_resid, m_sub, ksub, 2, dim, self.id_col),
                    *S.opq_train(train_resid, m_sub, ksub, 2, 2, dim, self.id_col),
                ]
            # One corpus materialization, placed AFTER the residual
            # projection (r11): both encode branches read only (id, cell,
            # norm, chash, residual), one vector payload per row. EAGER:
            # no training action fills it, and each branch would otherwise
            # recompute the assign and residual UDFs over the corpus.
            cents = model[0]
            resid = self._residuals(self._assigned(df, cents), cents)
            resid = resid.localCheckpoint(eager=True)
            write = self._cell_write(self._code_rows(resid, dim // m_sub, *model[1:]))
        # full-replace: a rebuild supersedes every prior artifact file
        return self._commit_model(
            write,
            self._live,
            params,
            fp,
            *model,
            {"n_planes": lsh_planes, "n_tables": lsh_tables, "seed": 42},
        )

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

    def _part_of(self, rel: str) -> tuple[str, int] | None:
        """(variant, cell) of a ``codes/variant=<v>/cell=<c>/`` file; None
        for delta runs, tombstones and the model. The cell is an int
        whatever the reader's partition-type inference does, so it matches
        a collected ``cell`` value either way."""
        parts = rel.split("/")
        if parts[0] != "codes" or len(parts) < 4:
            return None
        (vk, _, variant), (ck, _, cell) = (p.partition("=") for p in parts[1:3])
        return (variant, int(cell)) if (vk, ck) == ("variant", "cell") else None

    def _cell_write(self, rows: DataFrame):
        """Staged write of the bucketed code layout under ``codes/``: one
        id-sorted file per (variant, cell)."""
        writer = (
            rows.repartition("variant", "cell")
            .sortWithinPartitions(self.id_col)
            .write.partitionBy("variant", "cell")
            .option("compression", "zstd")
            .mode("overwrite")
        )
        return _saving(rows, "codes", writer)

    def _committed_ids_among(self, ids: list, man: dict, masked: bool) -> set:
        """The ids among ``ids`` (a collected, micro-batch-sized delta id
        list) already present in the code layout of snapshot ``man``.
        Point probe (the DocumentStore.read_keys rule one tier over): on a
        local root the cached footer id-ranges plan the row groups that
        can hold an id (code files are id-sorted within each (variant,
        cell), so the bounds are tight — a batch of genuinely new ids hits
        nothing) and pyarrow reads just their id column on the driver, no
        Spark job.
        The files whose footer cannot be read (a concurrent vacuum), or
        every file on another root, take a Spark scan with the id list
        pushed in. A delta run holds an id's pq and opq rows, so a hit may
        come back twice; the set folds it. The full column-pruned id scan
        paid ~7 s of per-file open overhead across 1024 files per
        2000-vector append."""
        import pyarrow.parquet as pq

        ids = sorted(set(ids))
        files = [
            f
            for f in man["files"]
            if self._is_code_delta(f) or ((vc := self._part_of(f)) and vc[0] == "pq")
        ]
        if not files or not ids:
            return set()
        local_root = self._local_root()
        stats = {}
        if local_root is not None:
            stats = self._footer_stats(files, self.id_col, local_root, man["files"])
            stats = {f: g for f, g in stats.items() if g is not None}
        found = set()
        for path, rgs in self._row_group_hits(stats, lambda rel: ids, local_root):
            got = pq.ParquetFile(path).read_row_groups(rgs, columns=[self.id_col])
            found.update(got.column(0).to_pylist())
        found.intersection_update(ids)
        rest = [f for f in files if f not in stats]
        if rest:
            scan = self._read_code_rows(
                [f for f in rest if not self._is_code_delta(f)],
                [f for f in rest if self._is_code_delta(f)],
                man,
            )
            found.update(
                r[0]
                for r in scan.select(self.id_col)
                .where(F.col(self.id_col).isin(ids))
                .collect()
            )
        tomb = self._tombstones_from(man) if masked and found else None
        if tomb is not None:
            hit = tomb.where(F.col(self.id_col).isin(sorted(found)))
            found -= {r[0] for r in hit.collect()}
        return found

    def _read_code_rows(
        self, bucketed: list[str], deltas: list[str], man: dict
    ) -> DataFrame:
        """Committed code rows (id, variant, cell, norm, code [, chash])
        from a mixed file list of manifest ``man``: bucketed files carry
        variant/cell as partition directories, delta runs carry them as
        data columns — one spark.read over both would make partition
        discovery and the in-file schema disagree (the
        BandIndexStore._read_files rule). Each is one schema group of
        ``man``, read with its recorded schema."""
        parts = []
        if bucketed:
            parts.append(
                self._committed_parquet(bucketed, man, f"{self.root}/codes")
            )
        if deltas:
            parts.append(self._committed_parquet(deltas, man))
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

        return reduce(DataFrame.unionByName, map(_sel, parts))

    # -- incremental append ------------------------------------------------
    def append(
        self,
        delta,
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
        special casing. Delta ids must be non-null and disjoint from the
        indexed ids (``check_duplicates`` verifies against the committed
        codes; an id collision would leave two codes for one vector AND
        break the fingerprint roll-forward). Quantizer drift is
        the caller's tradeoff, as in any IVF/PQ deployment: appends reuse
        centroids/codebooks trained on the original distribution; rebuild
        when recall certificates degrade.

        Concurrent appends: the commit's conflict rule (_model_rule)
        re-checks that the model files it read are still the live ones — a
        racing append/rebuild raises (retry re-reads the rolled-forward
        model) instead of silently losing the other writer's fingerprint
        contribution.

        Two encode paths, one set of numpy kernels (operators.similarity
        encode_ivfpq and the UDFs that wrap the same functions), chosen by
        one size rule: a delta of at most min(APPEND_PROBE_MAX,
        CODES_DELTA_MAX_VECTORS) vectors is collected once and encoded on
        the driver (_encode_on_driver); a larger one is encoded by the
        build's Spark plan (_encode_distributed). Both write the same code
        rows and roll the same fingerprint.

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
        search path reads codes() masked.

        ``delta`` may also be a driver-side pyarrow Table of id and
        _delta_projection columns (a collect of the caller's batch). The
        same size rule applies: within the bound its fingerprint is summed
        from it (no checkpoint or fingerprint job); above it, its id and
        vector columns become a frame for the distributed encode."""
        if purge not in ("auto", "always", "never"):
            raise ValueError(f"append: unknown purge mode {purge!r}")
        bound = min(self.APPEND_PROBE_MAX, self.CODES_DELTA_MAX_VECTORS)
        table = None
        if not isinstance(delta, DataFrame) and delta.num_rows <= bound:
            table = delta
            n_ids = table.num_rows - table[self.id_col].null_count
            dfp = [table.num_rows]
            # the tombstone re-add check below joins the delta's ids
            delta = self.spark.createDataFrame(table.select([self.id_col]))
        else:
            if not isinstance(delta, DataFrame):
                delta = self.spark.createDataFrame(
                    delta.select([self.id_col, self.vec_col])
                )
            # The delta plan feeds up to five separate ACTIONS below
            # (re-add check, fingerprint, in-delta dup agg, membership
            # probe, encode + write) — materialize it ONCE. Without this
            # every action re-runs the caller's upstream plan, which is NOT
            # batch-sized in general: the r11 20M-vector ann_ops point
            # measured a fixed 2000-row append at 85 s because its
            # sort-limit delta plan re-scanned the 20M-row corpus per
            # action (14.6 s at 2M); with the checkpoint the op is
            # O(delta plan once + batch work). Bulk-load deltas spill to
            # disk via the default MEMORY_AND_DISK blocks. The fingerprint
            # rides this job as observe() metrics; both encode paths
            # recompute it for the frame they actually index.
            delta, dfp, n_ids = self._ckpt_fingerprint(delta)
        if n_ids != dfp[0]:
            # a null id cannot be probed, deduplicated or summed into the
            # fingerprint; the observed counts already tell
            raise ValueError(
                f"append: {dfp[0] - n_ids} null id(s) in the delta — every "
                f"vector needs an id"
            )
        # one snapshot for the whole append: the model it encodes with,
        # the membership probe and the commit's conflict rule (_model_rule)
        # all read it
        man = self._snapshot()
        tomb0 = self._tombstones_from(man)
        if tomb0 is not None:
            n_readd = 0
            if purge != "always":
                n_readd = delta.join(
                    F.broadcast(tomb0), self.id_col, "left_semi"
                ).count()
            if n_readd and purge == "never":
                raise ValueError(
                    f"append: {n_readd} delta id(s) have live "
                    f"tombstones — run purge_tombstones() first "
                    f"(purge='never'), or use purge='auto'"
                )
            # threshold purge belongs to "auto" only: "never" is the
            # explicit-maintenance mode and must not attach the
            # O(affected-cells) rewrite it exists to avoid (ADVICE r8 #1)
            if (
                purge == "always"
                or n_readd
                or (purge == "auto" and tomb0.count() >= self.PURGE_APPEND_THRESHOLD)
            ):
                self.purge_tombstones()
                man = self._snapshot()
        idx = self._index_of(man)
        if idx is None:
            raise ValueError(
                f"AnnIndexStore at {self.root} is empty — build() before append()"
            )
        if dfp[0] == 0:
            return idx
        # stores committed before delete support lack the chash column;
        # keep their code schema uniform (delete stays unsupported there
        # until a rebuild) instead of writing mixed-schema files
        with_chash = not any(
            f.startswith("codes/") for f in man["files"]
        ) or "chash" in self._group_schema(man, "codes").fieldNames()
        # a delta that the membership probe may collect and that lands as
        # one delta run is encoded on the driver; bulk loads stay in Spark
        if dfp[0] <= bound:
            if table is None:
                table = self._delta_table(delta)
            staged = self._encode_on_driver(
                table, idx, man, check_duplicates, skip_existing, with_chash
            )
        else:
            staged = self._encode_distributed(
                delta, idx, dfp, n_ids, check_duplicates, skip_existing, with_chash
            )
        if staged is None:  # nothing left to index
            return idx
        write_codes, dfp = staged
        return self._commit_model(
            write_codes,
            self._model_rule(man, "append"),
            self._rolled_params(idx),
            [a + b for a, b in zip(idx.fingerprint, dfp)],
            idx.centroids,
            idx.pq_books,
            idx.opq_rotation,
            idx.opq_books,
            idx.lsh,
        )

    @staticmethod
    def _rolled_params(idx: AnnIndex) -> dict:
        """Index params of a commit that rolls ``idx``'s model forward
        (append / delete): unchanged quantizer shape, and the cell-count
        provenance carried forward (a commit that drops it would reset
        auto_cells to False and silence maybe_rebuild)."""
        return dict(
            dim=idx.dim,
            n_centroids=idx.n_centroids,
            m_sub=idx.m_sub,
            ksub=idx.ksub,
            auto_cells=idx.auto_cells,
            target_cell=idx.target_cell,
        )

    @staticmethod
    def _dup_error(n_dup: int) -> ValueError:
        return ValueError(
            f"append: {n_dup} duplicate id(s) WITHIN the delta — each "
            f"vector must appear once"
        )

    @staticmethod
    def _collision_error(n_dup: int) -> ValueError:
        return ValueError(
            f"append: {n_dup} delta id(s) already indexed — appends must "
            f"be disjoint (upsert = delete + rebuild, or rebuild)"
        )

    def _encode_on_driver(
        self,
        t,
        idx: AnnIndex,
        man: dict,
        check_duplicates: bool,
        skip_existing: bool,
        with_chash: bool,
    ):
        """append()'s micro-batch path over ``t``, the delta's
        _delta_projection collected through Arrow (norm and chash are
        Spark expressions, so they are bit-identical to the distributed
        path), against ``man``, the snapshot ``idx`` was read from:
        (write_codes, delta fingerprint), or None when skip_existing
        leaves nothing. The membership checks are set operations, the
        fingerprint is summed as Python ints, the codes
        come from the same numpy kernels the encode UDFs wrap, and
        pyarrow writes the delta run — no JVM->Python UDF crossing."""
        import pyarrow as pa

        ids = t.column(self.id_col).to_pylist()
        if skip_existing:
            existing = self._committed_ids_among(ids, man, masked=False)
            if existing:
                t = t.filter(pa.array([i not in existing for i in ids]))
                ids = t.column(self.id_col).to_pylist()
        if not ids:
            return None
        if check_duplicates:
            n_dup = len(ids) - len(set(ids))
            if n_dup:
                raise self._dup_error(n_dup)
            # redundant under skip_existing, which just dropped the
            # committed ids (review r7 #2)
            if not skip_existing:
                n_dup = len(self._committed_ids_among(ids, man, masked=True))
                if n_dup:
                    raise self._collision_error(n_dup)
        model = (idx.centroids, idx.pq_books, idx.opq_rotation, idx.opq_books)
        # (variant, cell)-sorted like the distributed path's run; the id
        # sort key keeps the id column's footer statistics
        write = self._arrow_saving(
            self._code_table(t, model, with_chash),
            "codes_delta",
            sort_by=("variant", "cell", self.id_col),
        )
        return write, self._table_fp(t)

    def _table_fp(self, t) -> list[int]:
        """The fingerprint of ``t``, a table of id and _delta_projection
        columns, summed as Python ints (_chash is the Spark expression, so
        the sums equal _fingerprint's)."""
        if t[self.id_col].null_count:
            raise ValueError(
                f"{t[self.id_col].null_count} null id(s) — every vector needs an id"
            )
        ids = t.column(self.id_col).to_pylist()
        return [len(ids), sum(ids), sum(t.column("_chash").to_pylist())]

    def _code_table(self, t, model, with_chash: bool):
        """The code rows (id, cell, norm[, chash], code, variant) of ``t``,
        a table of id and _delta_projection columns, under ``model``
        (centroids, pq_books, rotation, opq_books), as the distributed
        encode writes them, opq rows first. S.encode_ivfpq runs in
        Arrow-batch-sized row blocks: assign_cells allocates rows x
        n_centroids distances, so a block bounds driver memory the way the
        UDF path's one kernel call per Arrow batch bounds a worker."""
        import numpy as np
        import pyarrow as pa

        v = S.table_matrix(t, "_v")
        block = int(
            self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )
        if block <= 0:  # Spark's "no limit"
            block = max(1, len(v))
        cells, pq, opq = (
            np.concatenate(parts)
            for parts in zip(
                *(
                    S.encode_ivfpq(v[i : i + block], *model)
                    for i in range(0, len(v), block)
                )
            )
        )
        n = t.num_rows
        cols = {
            self.id_col: pa.concat_arrays([t.column(self.id_col).combine_chunks()] * 2),
            "cell": pa.array(np.tile(cells, 2)),
            "norm": pa.array(np.tile(t.column("_norm").to_numpy(), 2)),
        }
        if with_chash:
            cols["chash"] = pa.array(np.tile(t.column("_chash").to_numpy(), 2))
        cols["code"] = pa.array(list(np.concatenate([opq, pq])))
        cols["variant"] = pa.array(["opq"] * n + ["pq"] * n)
        return pa.table(cols)

    def _encode_distributed(
        self,
        delta: DataFrame,
        idx: AnnIndex,
        dfp: list[int],
        n_ids: int,
        check_duplicates: bool,
        skip_existing: bool,
        with_chash: bool,
    ):
        """append()'s bulk path: the same checks and encode as
        _encode_on_driver, as Spark plans (pandas UDFs over the shared
        kernels). Same return as _encode_on_driver."""
        if skip_existing:
            # replay-idempotent form for streaming compositions: already-
            # indexed ids are FILTERED, not an error — a redelivered
            # micro-batch (checkpoint replay) converges to a no-op. EAGER
            # checkpoint: the filtered delta feeds the in-delta dup agg and
            # the encode passes — without the materialization each action
            # re-runs the committed-id anti-join scan (review r7 #2). The
            # fingerprint is re-observed on it: the filtered frame is the
            # one the fingerprint must describe.
            delta, dfp, n_ids = self._ckpt_fingerprint(
                delta.join(
                    self.codes("pq", masked=False).select(self.id_col),
                    self.id_col,
                    "left_anti",
                )
            )
        if dfp[0] == 0:
            return None
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
                raise self._dup_error(n_ids - nd)
            # the committed-id collision check is a column-pruned semi-join
            # — redundant (and skipped) when skip_existing already
            # anti-joined the same committed ids away (review r7 #2)
            if not skip_existing:
                n_dup = (
                    delta.select(self.id_col)
                    .join(
                        self.codes("pq").select(self.id_col),
                        self.id_col,
                        "left_semi",
                    )
                    .count()
                )
                if n_dup:
                    raise self._collision_error(n_dup)
        # EAGER: unlike build(), append has no training collects to
        # materialize a lazy checkpoint before the code write, whose
        # pq/opq subtrees would otherwise each recompute the norm+assign
        # UDF pass over the whole delta (first-action-no-dedup trap;
        # review r6b #7)
        assigned = self._assigned(delta, idx.centroids).localCheckpoint(eager=True)
        resid = self._residuals(assigned, idx.centroids)
        if not with_chash:
            resid = resid.drop("_chash")
        coded = self._code_rows(
            resid, idx.dim // idx.m_sub, idx.pq_books, idx.opq_rotation, idx.opq_books
        )
        if dfp[0] <= self.CODES_DELTA_MAX_VECTORS:
            # delta-run write (r10): a micro-batch append lands as ONE
            # (variant, cell)-sorted file instead of one near-empty file
            # per touched (variant, cell) — measured 28.6 s / ~1000 files
            # for a 2000-vector batch at 512 cells on the bucketed path.
            # Lookups consult runs alongside the bucket layout (codes());
            # maybe_fold_code_deltas() merges them at the shared fold
            # trigger, amortizing the rewrite to O(delta) per append.
            # repartition, NOT coalesce: coalesce(1) propagates up and
            # single-threads the whole encode chain (measured 10.3 s of
            # the append); the shuffle is batch-sized
            run = coded.repartition(1).sortWithinPartitions("variant", "cell")
            return _saving(run, "codes_delta"), dfp
        return self._cell_write(coded), dfp

    # -- load / read -------------------------------------------------------
    def load(self, validate_against: DataFrame | None = None) -> AnnIndex | None:
        """Latest committed index, or None if the store is empty.
        ``validate_against``: when given, the stored fingerprint is checked
        against the CURRENT corpus and a stale index returns None (callers
        then rebuild) — one tiny agg, the price of never serving a
        quantizer trained on different data.

        The model components are memoized per handle against the live
        model file list (see ``_model_memo``): only a commit that replaced
        the model costs a read — pyarrow on a local root, else one collect
        with no schema inference."""
        idx = self._index_of(self._snapshot())
        if idx is not None and validate_against is not None:
            if self._fingerprint(validate_against) != idx.fingerprint:
                return None
        return idx

    def _index_of(self, man: dict | None) -> AnnIndex | None:
        """The index handle of resolved snapshot ``man`` (None for an
        empty store), its model read through the model memo."""
        if not man or not man["files"]:
            return None
        model_files = tuple(sorted(f for f in man["files"] if f.startswith("model/")))
        if not model_files:
            return None
        if self._model_memo is None or self._model_memo[0] != model_files:
            local_root = self._local_root()
            if local_root is not None:  # a two-column sidecar: no Spark job
                import pyarrow.parquet as pq

                rows = [
                    r
                    for f in model_files
                    for r in pq.ParquetFile(os.path.join(local_root, f))
                    .read(["component", "payload"])
                    .to_pylist()
                ]
            else:
                rows = self._scan(list(model_files), self._MODEL_SCHEMA).collect()
            self._model_memo = (
                model_files,
                {r["component"]: r["payload"] for r in rows},
            )
        comp = {k: json.loads(v) for k, v in self._model_memo[1].items()}
        meta = comp["meta"]
        return AnnIndex(
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

    def _tombstones_from(self, man: dict | None) -> DataFrame | None:
        """Committed tombstone set (deleted-but-not-yet-purged ids) of the
        given manifest, or None when there are no tombstones. Tiny by
        contract (takedown/opt-out-sized) — broadcastable."""
        if not man:
            return None
        tf = [f for f in man["files"] if f.startswith("tombstones/")]
        if not tf:
            return None
        return self._committed_parquet(tf, man).select(self.id_col).distinct()

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
        variant_files = [
            f for f in man["files"] if (vc := self._part_of(f)) and vc[0] == variant
        ]
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
            allowed = {int(c) for c in cells}
            files = [f for f in files if self._part_of(f)[1] in allowed]
        if not files and not deltas:
            # cell prune matched nothing and no delta runs are live:
            # empty frame with the committed schema (one footer read,
            # F.lit(False) prunes every row group — no data scan)
            df = self._read_code_rows(variant_files[:1], [], man).where(
                F.lit(False)
            )
        else:
            df = self._read_code_rows(files, deltas, man).where(
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
        orig_man = self._snapshot()
        idx = self._index_of(orig_man)
        if idx is None:
            raise ValueError(
                f"AnnIndexStore at {self.root} is empty — nothing to delete"
            )
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
        # prior tombstone files stay live (they accumulate until purge)
        return self._commit_model(
            _saving(matched.select(self.id_col).coalesce(1), "tombstones"),
            self._model_rule(orig_man, "delete"),
            self._rolled_params(idx),
            new_fp,
            idx.centroids,
            idx.pq_books,
            idx.opq_rotation,
            idx.opq_books,
            idx.lsh,
        )

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
            self._committed_parquet(tomb_files, man)
            .select(self.id_col)
            .distinct()
            .localCheckpoint(eager=True)  # read BEFORE its files retire
        )
        code_files = [f for f in man["files"] if f.startswith("codes/")]
        delta_files = [f for f in man["files"] if self._is_code_delta(f)]
        all_codes = self._read_code_rows(code_files, delta_files, man)
        # normalize BOTH sides to (str, int): r["cell"] collects as int only
        # when partition-column type inference is on (the default) — with it
        # disabled the collected value is a string, the set intersection
        # with _part_of's int cells comes out empty, and the commit below
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
        affected = [f for f in code_files if self._part_of(f) in hit]
        # a tombstoned row can also sit in a delta run (r10 LSM appends) —
        # rewrite them all alongside the hit cells (they are delta-
        # fraction-bounded, and the rewrite folds them into the bucket
        # layout as a side effect)
        affected_deltas = delta_files

        def write(path: str) -> dict:
            if not (affected or affected_deltas):
                return {}
            rows = self._read_code_rows(affected, affected_deltas, man)
            return self._cell_write(
                rows.join(F.broadcast(tomb), self.id_col, "left_anti")
            )(path)

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
        code_files = [f for f in man["files"] if f.startswith("codes/")]
        delta_files = [f for f in man["files"] if self._is_code_delta(f)]
        hit = {
            vc
            for vc, fl in self._files_by_part(code_files).items()
            if len(fl) >= min_files
        }
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
            affected = [f for f in code_files if self._part_of(f) in hit]
        folded_deltas = delta_files if folding else []
        frag = self._read_code_rows(affected, folded_deltas, man)
        self._staged_commit(
            self._cell_write(frag),
            affected + folded_deltas,
            op="compact_codes",
            kind="index",
        )
        # folded-deltas-only compactions still did work: report >= 1
        return len(hit) or (1 if folded_deltas else 0)

    def maybe_fold_code_deltas(self, max_fraction: float = 0.02) -> bool:
        """Amortized LSM fold trigger for code delta runs (pairs with
        append()'s delta-run write): SnapshotStore._fold_due over the code
        layout, with a floor of 2*CODES_DELTA_MAX_VECTORS code rows (one
        maximal delta append's worth, pq+opq). The fold is
        compact_codes(fold_deltas=True)'s full rewrite. Returns True iff a
        fold was committed."""
        man = self._snapshot()
        files = man["files"] if man else []
        deltas = [f for f in files if self._is_code_delta(f)]
        base = [f for f in files if f.startswith("codes/")]
        if not self._fold_due(
            man,
            deltas,
            base,
            2 * self.CODES_DELTA_MAX_VECTORS,
            max_fraction,
            self.id_col,
            f"{self.root}/codes",
        ):
            return False
        return self.compact_codes(min_files=2, fold_deltas=True) > 0

    def maybe_rebuild(self, corpus: Callable[[], DataFrame]) -> bool:
        """Maintenance trigger for an index grown through appends
        (ADVICE r7 #4): append() reuses the committed quantizer AND cell
        count by design, so an index auto-sized at its first build keeps
        batch-1's n_centroids (and a quantizer trained on batch-1's
        distribution) while the corpus grows 1000x underneath it —
        re-introducing the linear per-cell candidate growth auto_centroids
        exists to prevent. This re-runs the SAME derivation at the CURRENT
        committed size and retrains (force build over ``corpus()``) when
        the rule asks for >= GROW_FACTOR x the committed cell count.

        The check is O(1) driver-side (two sidecar fields), and ``corpus``
        is called only once it trips, so a caller builds its corpus frame
        only for a rebuild; the rebuild is the corpus-sized op, by design
        — call this at a maintenance cadence (the streaming gate calls it
        per accepted batch; it no-ops until the threshold trips).
        Pinned-cell indexes (built with an explicit n_centroids) never
        auto-rebuild: auto_cells is recorded provenance, not a guess.
        Returns True iff a rebuild was committed."""
        idx = self.load()
        if idx is None or not idx.auto_cells:
            return False
        ideal = S.auto_centroids(idx.n_vectors, idx.target_cell)
        if ideal < self.GROW_FACTOR * idx.n_centroids:
            return False
        self.build(
            corpus(),
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
