"""DocumentStore — snapshot-committed corpus tables (documents, curation
survivors, packed sequences, any keyed parquet table), built on the same
SnapshotStore commit protocol as OhlcvStore (store.py).

Why it exists (VERDICT r5 #5): the OHLCV tier already had ACID snapshot
commits, compaction, and time travel, while the LLM-pipeline tables read and
wrote raw parquet — a 100 TB curation pipeline wants the SAME transactional
guarantees for its document shards: an upsert that rewrites only the touched
shards, readers that see whole snapshots (never a half-rewritten shard),
time travel across curation runs, and O(changed-files) cleanup.

Physical layout: ``root/shard=<k>/*.parquet`` where
``shard = portable multiplicative hash(key) mod n_shards`` — the SAME
deterministic assignment as the training-shard exporter
(operators/curation.shard_assign), so a store shard IS a training shard and
the layout decorrelates shard membership from key locality (range-loaded
corpora still spread uniformly). The hash-sharded layout is the corpus
analogue of OhlcvStore's day partitions: an upsert touches only the shards
its incoming keys hash to, so rewrite amplification is bounded by
|touched shards| * shard_size, never O(store). Choose ``n_shards`` so one
shard fits an executor's write task at the target scale (the same knob as
pack_sequences / export_shards).

Semantics (mirrors OhlcvStore.save_data, SQLite INSERT-OR-REPLACE parity
with the reference's upsert, database_handler.py:215-218): incoming rows
win over stored rows on the key; the merge is precedence-ranked
(source-rank + row_number), deterministic under shuffle. Schema is
captured by the first commit; later upserts must carry the identical
column set (a drifted pipeline fails loudly instead of silently writing a
mixed-schema table).

Concurrency is inherited: CAS manifest publish, read-rebase-commit for
disjoint-shard writers, detected-and-raised conflicts for same-shard races,
two-commit vacuum grace for concurrent readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from binance_data_framework_spark.materialize import checkpoint_observed
from binance_data_framework_spark.operators.curation import shard_assign
from binance_data_framework_spark.store import SnapshotStore


def _content_tiebreak(df: DataFrame, exclude: tuple[str, ...] = ()):
    """Deterministic total-order key for one-survivor windows: xxhash64
    over every data column (sorted by name, bookkeeping columns excluded),
    so which duplicate survives never depends on partitioning or task
    scheduling (VERDICT r9 #3). Identical duplicate ROWS collide, but then
    every survivor choice commits the same bytes — the invariance we want."""
    skip = set(exclude) | {"shard", "_rn"}
    cols = sorted(c for c in df.columns if c not in skip)
    return F.xxhash64(*[F.col(c) for c in cols])


class BandIndexStore(SnapshotStore):
    """Append-only LSH band index on the snapshot-commit protocol: rows
    ``(id_col, band_idx int, band_hash long)`` laid out as
    ``bucket=<pmod(band_hash, n_buckets)>/*.parquet``, so a lookup for a
    batch of band keys reads ONLY the buckets those keys hash to
    (manifest-level pruning, the same physical idea as DocumentStore's
    shard pruning and AnnIndexStore's cell pruning) — O(touched buckets)
    IO against a corpus-sized index.

    This is the persisted state behind the streaming near-dup gate
    (streaming/neardup_ingest): each ingest batch looks up its band keys
    against the committed corpus, then appends the surviving docs' bands.
    Appends are ADD-ONLY commits: no files are superseded, so concurrent
    appenders rebase cleanly and never conflict (the read-rebase-commit
    path's trivial case). Redelivered batches may append duplicate band
    rows — candidate generation distinct-s pairs, so duplicates cost
    bytes, not correctness; ``optimize()``-style compaction can fold them
    later if redelivery is heavy.

    Sizing ``n_buckets`` (measured, PLANS.md r6 gate bench): a batch's
    JOIN-path lookup IO is touched_buckets x rows_per_bucket ≈ batch_keys
    x (num_bands x corpus / n_buckets) once batch_keys ≥ n_buckets — FLAT
    in corpus size only if n_buckets scales with the corpus target. The
    r10 POINT-LOOKUP path (candidates() docstring) tightens that to
    ~probe_keys x row-group rows regardless of the bucket/batch-key
    ratio, which is what kills the r9 inversion (per-file overhead beating
    pruning once touched ≈ n_buckets). n_buckets remains the layout knob
    bounding per-bucket file size and join-path pruning.
    Two modes (VERDICT r8 #1 — the growth leg the ANN index got in r8):

    - ``n_buckets=<int>`` (pinned): the creation-time count is layout,
      forever — the pre-r9 behavior, for callers who sized it for the
      corpus target themselves. Pinned stores never auto-rebucket, the
      same provenance rule as a pinned n_centroids ANN index.
    - ``n_buckets=None`` (auto): the count is DERIVED state owned by the
      store — it starts at auto_buckets(0) and ``maybe_rebucket()``
      (called by the streaming gate per accepted batch) re-derives it at
      the CURRENT committed row count, rewriting the layout once the
      rule asks for >= grow_factor x the committed count. Re-bucketing
      is a narrow remap of the committed (id, band_idx, band_hash) rows
      — pmod against the new count; no signature or shingle recompute.

    The band-GENERATION params (num_hashes/num_bands/shingle_n) stay
    pinned in BOTH modes, deliberately: unlike the bucket count (pure
    physical layout), they define the near-duplicate SEMANTICS — the
    banding recall curve — so growing them with the corpus would silently
    change which documents count as duplicates. Scaling lookup cost is
    the bucket count's job.

    Single-maintainer note: rebucket swaps the bucket routing (sidecar)
    and the file layout (manifest) in two steps; auto-mode handles
    re-read the sidecar on every operation, so any op started after the
    rebucket commit sees the new layout. A lookup that reads the sidecar
    in the microseconds BEFORE a concurrent rebucket's commit and the
    manifest after it can prune with the old routing for that one call —
    run maintenance from the store's single writer (the gate), the same
    assumption AnnIndexStore.maybe_rebuild's full-layout swap makes."""

    #: target committed rows per bucket for the auto derivation — ~50k
    #: rows x ~24 B/row ≈ 1.2 MB per bucket file, the same IO-granularity
    #: sizing rule as auto_centroids' target_cell (a bucket lookup is a
    #: narrow scan, linear per row, so the target is file-size-shaped;
    #: per-BUCKET pair work is the generator's num_bands concern, not
    #: the store's)
    TARGET_BUCKET_ROWS = 50_000

    #: row-group byte target for band files (~5k rows at 24 B/row): the
    #: point-lookup path in candidates() prunes at ROW-GROUP granularity
    #: (footer min/max over band_hash-sorted rows), so row groups — not
    #: files — are the IO unit a probe key costs. Small groups keep that
    #: unit probe-sized; the per-group stats overhead is ~100 B.
    BAND_ROWGROUP_BYTES = 131_072

    #: probe-row cap for the point-lookup candidate path (same pattern as
    #: DocumentStore.READ_KEYS_PUSHDOWN_MAX one tier down): a gate batch
    #: is batch_docs x num_bands ≈ 20k rows — far under the cap; beyond
    #: it the driver-side plan itself would be the bottleneck and the
    #: join path wins anyway.
    CANDIDATES_PUSHDOWN_MAX = 1 << 18

    @staticmethod
    def auto_buckets(n_rows: int, target_bucket_rows: int = 50_000) -> int:
        """Bucket count keeping expected committed occupancy at
        ~target_bucket_rows for n_rows committed band rows — the
        auto_planes/auto_centroids rule applied to the band index
        (PLANS.md scale rule #1: LSH/banding parameters bounding bucket
        occupancy must be functions of corpus size, never constants).
        Clamped to [8, 2^20]: 8 keeps a tiny store from degenerating to
        one file, 2^20 x 50k rows ≈ 5e10 band rows before the clamp
        binds."""
        import math as _math

        return max(
            8,
            min(1 << 20, _math.ceil(max(1, n_rows) / max(1, target_bucket_rows))),
        )

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        n_buckets: int | None = 64,
        params: dict | None = None,
        target_bucket_rows: int | None = None,
    ):
        if n_buckets is not None and n_buckets <= 0:
            raise ValueError("n_buckets must be positive")
        super().__init__(spark, root)
        self.id_col = id_col
        self.target_bucket_rows = (
            target_bucket_rows
            if target_bucket_rows is not None
            else self.TARGET_BUCKET_ROWS
        )
        self._auto = n_buckets is None
        self.n_buckets = (
            n_buckets
            if n_buckets is not None
            else self.auto_buckets(0, self.target_bucket_rows)
        )
        # band-GENERATION parameters (minhash num_hashes/num_bands/
        # shingle_n for the near-dup gate): band hashes are a pure function
        # of these, so they are part of the layout — reopening with
        # different values produces keys that never match committed rows
        # and silently admits near-duplicates (ADVICE r6). Optional because
        # the store itself is generator-agnostic; callers that derive band
        # keys (the gate) MUST pass them.
        self.params = dict(params) if params else None
        self._layout_checked = False
        # footer cache for the point-lookup candidate path: committed
        # files are immutable, so (rel path -> row-group band_hash ranges)
        # never staleness-checks; entries for superseded files are evicted
        # against the live manifest on each sweep (review r10 #5 — a
        # long-lived gate handle folds/compacts thousands of files over a
        # stream, and "just stop being asked for" leaked them all).
        # Rebuildable any time — losing it costs one footer sweep.
        self._footer_cache: dict[str, list[tuple[int, int | None, int | None]]] = {}

    def _check_layout(self) -> None:
        """Pin (n_buckets, id_col, band-generation params) like
        DocumentStore._check_layout — reopening with a different bucket
        count would route the same band key to a different bucket, and
        different generator params (minhash widths) produce band hashes
        that never match committed rows; both must raise, not silently
        miss candidates (ADVICE r6).

        Auto-bucketed stores additionally RE-ADOPT the sidecar's current
        n_buckets on every call (one small driver-side read): in auto mode
        the count is derived state owned by the store, and a rebucket —
        by this handle or another — must be visible to the next lookup,
        not to the next process."""
        if self._layout_checked:
            if self._auto:
                self.n_buckets = int(self._read_layout()["n_buckets"])
            return

        fs, p = self._fs_path(self._LAYOUT)
        if fs.exists(p):
            stored = self._read_layout()
            if self._auto:
                # adopt the stored layout wholesale: in auto mode the
                # caller pins nothing — a reopened auto store keeps its
                # grown count, and opening a PINNED store with
                # n_buckets=None adopts the pinned count (and stays
                # pinned: auto provenance is recorded at creation, not
                # re-guessed)
                self.n_buckets = int(stored["n_buckets"])
                self._auto = bool(stored.get("auto_buckets", False))
                if stored.get("target_bucket_rows"):
                    self.target_bucket_rows = int(stored["target_bucket_rows"])
            elif stored.get("auto_buckets", False):
                raise ValueError(
                    f"BandIndexStore at {self.root} is auto-bucketed (its "
                    f"count is derived state, currently "
                    f"{stored.get('n_buckets')}) — open it with "
                    f"n_buckets=None instead of pinning "
                    f"{self.n_buckets}"
                )
            if (
                stored.get("n_buckets") != self.n_buckets
                or stored.get("id_col") != self.id_col
            ):
                raise ValueError(
                    f"BandIndexStore layout mismatch at {self.root}: stored "
                    f"{stored}, requested n_buckets={self.n_buckets} "
                    f"id_col={self.id_col!r}"
                )
            stored_params = stored.get("params")
            if self.params is not None and stored_params is None:
                # a pre-pinning layout sidecar: adopting the caller's
                # params is only safe while NO bands are committed — on a
                # populated store the committed band hashes were derived
                # with UNKNOWN params, and adopting whatever the first
                # post-upgrade caller passes would legitimize exactly the
                # drift the pin exists to catch (review r7 #3)
                man = self._snapshot()
                if man and man["files"]:
                    raise ValueError(
                        f"BandIndexStore at {self.root} holds committed bands "
                        f"but its layout predates band-param pinning — the "
                        f"generator params of the stored rows are unknowable; "
                        f"rebuild the index to pin {self.params}"
                    )
                stored["params"] = self.params
                self._write_layout(stored)
            elif self.params is not None and stored_params != self.params:
                raise ValueError(
                    f"BandIndexStore band-param mismatch at {self.root}: "
                    f"stored {stored_params}, requested {self.params} — "
                    f"band hashes from different generator params never "
                    f"match committed rows (rebuild the index to change them)"
                )
        else:
            self._write_layout(
                {
                    "n_buckets": self.n_buckets,
                    "id_col": self.id_col,
                    "params": self.params,
                    "auto_buckets": self._auto,
                    "target_bucket_rows": self.target_bucket_rows,
                    "n_rows": 0,
                }
            )
        self._layout_checked = True

    def pin_params(self, params: dict) -> None:
        """Declare the band-generation params this session derives keys
        with; the next layout check pins them in the sidecar (first write)
        or validates them against the committed values (every later open).
        Conflicting params within one session raise immediately."""
        if self.params == params:
            return
        if self.params is not None:
            raise ValueError(
                f"BandIndexStore band-param conflict in-session: "
                f"{self.params} vs {params}"
            )
        self.params = dict(params)
        self._layout_checked = False  # force re-validation vs the sidecar

    @staticmethod
    def _bucket_of(rel: str) -> int | None:
        seg = rel.split("/", 1)[0]
        if not seg.startswith("bucket="):
            return None
        try:
            return int(seg[7:])
        except ValueError:
            return None

    @staticmethod
    def _is_delta(rel: str) -> bool:
        return rel.startswith("delta/")

    def _bucketed_writer(self, rows: DataFrame):
        """Writer of the bucket layout (one file per bucket). band_hash-
        sorted rows + small row groups: the point-lookup path in
        candidates() skips at ROW-GROUP granularity, so a file's row
        groups must carry tight band_hash min/max stats."""
        return (
            rows.repartition("bucket")
            .sortWithinPartitions("bucket", "band_hash")
            .write.partitionBy("bucket")
            .option("compression", "zstd")
            .option("parquet.block.size", str(self.BAND_ROWGROUP_BYTES))
            .mode("overwrite")
        )

    def append(self, bands: DataFrame) -> int:
        """Add-only commit of (id_col, band_idx, band_hash) rows. Returns
        the number of FILES appended (0 = empty input, no commit).

        Two physical forms (r10 — the 4.5M gate point measured
        band_append at 7.6 s of a 14.6 s gate, LINEAR in n_buckets: a
        batch's keys hash into every bucket, so the bucketed write
        created one near-empty file per bucket per batch):

        - DELTA RUN (incoming rows <= target_bucket_rows — every gate
          batch): ONE band_hash-sorted file under ``delta/`` carrying its
          own bucket column. The LSM idea: appends cost O(batch files),
          never O(n_buckets files); lookups consult runs (they are
          batch-sized) alongside the bucket layout; maybe_fold_deltas()
          merges runs into the buckets once they reach a fraction of the
          base — each row is rewritten O(1) amortized times.
        - BUCKETED (corpus-sized appends — initial builds): straight into
          the bucket layout as before; a follow-up rebucket/compact is
          the builder's normal maintenance.

        The one count() below re-executes the caller's band projection —
        cheap for every caller (they all derive bands from checkpointed
        signatures) and it is what picks the physical form and maintains
        the exact row bookkeeping the fold/rebucket triggers read."""
        self._check_layout()
        with_bucket = bands.select(
            self.id_col, "band_idx", "band_hash"
        ).withColumn("bucket", F.pmod("band_hash", F.lit(self.n_buckets)))
        n_in = with_bucket.count()
        if not n_in:
            return 0

        def write(path: str) -> None:
            if n_in <= self.target_bucket_rows:
                (
                    with_bucket.coalesce(1)
                    .sortWithinPartitions("band_hash")
                    .write.option("compression", "zstd")
                    .option("parquet.block.size", str(self.BAND_ROWGROUP_BYTES))
                    .mode("overwrite")
                    .save(f"{path}/delta")
                )
            else:
                self._bucketed_writer(with_bucket).save(path)

        new_files = self._staged_commit(write)
        if not new_files:
            return 0
        if self._auto:
            # growth bookkeeping for maybe_rebucket's O(1) trigger —
            # exact: n_in is the committed row count (best-effort under
            # concurrent appenders; rebucket recounts exactly)
            self._bump_rows(n_in)
        return len(new_files)

    def _read_files(self, files: list[str]) -> DataFrame:
        """Committed band rows (id_col, band_idx, band_hash, bucket) from
        a mixed file list: bucketed files carry ``bucket`` as a partition
        directory, delta runs carry it as a data column — the two groups
        read separately and union (one spark.read over both would make
        partition discovery and the in-file schema disagree)."""
        cols = [self.id_col, "band_idx", "band_hash", "bucket"]
        parts = []
        bucketed = [f for f in files if not self._is_delta(f)]
        deltas = [f for f in files if self._is_delta(f)]
        if bucketed:
            parts.append(
                self._committed_parquet(bucketed, base_path=self.root)
                .select(*cols)
            )
        if deltas:
            parts.append(self._committed_parquet(deltas).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self) -> DataFrame:
        """Full committed band-row scan (id_col, band_idx, band_hash,
        bucket) — maintenance/inspection surface; lookups should go
        through candidates() (bucket-pruned)."""
        self._check_layout()
        man = self._snapshot()
        if not man or not man["files"]:
            return self.spark.createDataFrame(
                [],
                f"{self.id_col} long, band_idx int, band_hash long, bucket int",
            )
        return self._read_files(list(man["files"]))

    # _local_root() is inherited from SnapshotStore (hoisted in review
    # r10 round 2 — three stores grew near-identical copies)

    def _footer_ranges(
        self,
        relpaths: list[str],
        local_root: str,
        live_files: list[str] | None = None,
    ) -> dict[str, list[tuple[int, int | None, int | None, int]]]:
        """(rel -> [(row_group, band_hash min, band_hash max, n_rows)])
        from the parquet footers, cached per immutable file. Missing
        statistics surface as (None, None) — the planner then always
        reads that row group (correct, just unpruned: e.g. files written
        before the sorted-write change). ``live_files`` (the current
        manifest's full file list, when the caller has it) drives cache
        eviction of superseded files."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _one(rel: str):
            md = pq.ParquetFile(os.path.join(local_root, rel)).metadata
            hash_leaf = next(
                i
                for i in range(len(md.schema))
                if md.schema.column(i).name == "band_hash"
            )
            out = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(hash_leaf).statistics
                if st is not None and st.has_min_max:
                    out.append((g, int(st.min), int(st.max), rg.num_rows))
                else:
                    out.append((g, None, None, rg.num_rows))
            return rel, out

        missing = [r for r in relpaths if r not in self._footer_cache]
        if missing:
            with ThreadPoolExecutor(max_workers=16) as ex:
                for rel, ranges in ex.map(_one, missing):
                    self._footer_cache[rel] = ranges
        out = {r: self._footer_cache[r] for r in relpaths}
        # evict superseded files (review r10 #5): callers always pass the
        # live manifest's (touched) files, and folds/compactions replace
        # the whole layout — keying the cache down to live ∪ just-asked
        # bounds it at O(live files) across an unbounded stream
        if live_files is not None:
            keep = set(live_files) | set(relpaths)
            for dead in [k for k in self._footer_cache if k not in keep]:
                del self._footer_cache[dead]
        return out

    def candidates(self, bands: DataFrame) -> DataFrame:
        """(id_new, id_stored) distinct pairs whose (band_idx, band_hash)
        matches a committed row. Empty store -> empty result.

        Two physical strategies (VERDICT r9 #2 — the read_keys lesson one
        tier over; reference analogue: the coverage-metadata point lookup,
        database_handler.py:279-283 — never scan what an index answers):

        - POINT LOOKUP (batch-sized probe sets, local roots): a bucket-
          keyed planning agg (exact distinct count + touched buckets in
          one job) gates a model-sized distinct-collect of the incoming
          (id, band_idx, band_hash) rows, then a driver-side plan over the cached
          parquet footers selects exactly the row groups whose band_hash
          range can contain a probe key (files are band_hash-sorted with
          ~BAND_ROWGROUP_BYTES row groups, so ranges are tight). Executors
          read ONLY those row groups via pyarrow and hash-join them
          against the broadcast probe set in pandas. Per-batch IO is
          bounded by probe_keys x row_group_rows — CONSTANT in corpus
          size — where the old join path read every touched bucket WHOLE:
          at batch_keys >= n_buckets that was the entire index, and
          file-level pruning could not help (PLANS.md r9 measured the
          inversion: 3600 buckets slower than 360 at 18M rows because
          per-file overhead beats pruning until touched << n_buckets).
        - JOIN (oversized probe sets, non-local roots): bucket-pruned scan
          of the touched buckets' committed files joined on the band key —
          the pre-r10 path, still the right plan when the probe side is
          itself corpus-sized (dedup-style self-comparisons)."""
        self._check_layout()
        # a null band key never equals a stored one, and count_distinct
        # below skips rows with any null column while the probe collect
        # would not — drop them so the count and the collect agree
        incoming = (
            bands.select(F.col(self.id_col).alias("id_new"), "band_idx", "band_hash")
            .dropna()
            .withColumn("bucket", F.pmod("band_hash", F.lit(self.n_buckets)))
        )
        man = self._snapshot()
        empty = incoming.select("id_new").limit(0).withColumn(
            "id_stored", F.col("id_new")
        )
        if not man or not man["files"]:
            return empty
        local_root = self._local_root()
        # COUNT-FIRST planning (restored r14 per VERDICT r13 #3/#4 — the
        # r13 limit(MAX+1)-collect shape shipped up to MAX+1 FULL probe
        # rows through the driver on every call just to decide the path,
        # tens of MB per 100 TB-scale dedup probe, plus CollectLimit's
        # partial-serial execution; guide §5, the driver does no data
        # work): one bucket-keyed planning agg serves BOTH strategies —
        # per-bucket distinct counts sum to the EXACT global distinct
        # count (bucket is a function of band_hash, so no row repeats
        # across buckets), deciding the path with a bucket-cardinality-
        # sized collect, and their keys are the touched-bucket set the
        # join path needs. Rows are only ever collected on the point path
        # AFTER the count proves them within bound.
        per_bucket = (
            incoming.groupBy("bucket")
            .agg(
                F.count_distinct("id_new", "band_idx", "band_hash").alias("n")
            )
            .collect()
        )
        if not per_bucket:
            return empty
        touched = {r["bucket"] for r in per_bucket}
        if (
            local_root is not None
            and sum(r["n"] for r in per_bucket) <= self.CANDIDATES_PUSHDOWN_MAX
        ):
            probe_rows = (
                incoming.select("id_new", "band_idx", "band_hash", "bucket")
                .distinct()
                .collect()
            )
            return self._candidates_point(probe_rows, man, local_root, empty)
        # delta runs are unpruned by bucket (batch-sized by construction —
        # a probe must always consult them)
        files = [
            f
            for f in man["files"]
            if self._is_delta(f) or self._bucket_of(f) in touched
        ]
        if not files:
            return empty
        stored = self._read_files(files)
        return (
            incoming.join(
                stored.select(
                    F.col(self.id_col).alias("id_stored"),
                    "band_idx",
                    "band_hash",
                ),
                on=["band_idx", "band_hash"],
            )
            .select("id_new", "id_stored")
            .distinct()
        )

    def _candidates_point(
        self, probe_rows, man: dict, local_root: str, empty: DataFrame
    ) -> DataFrame:
        """Point-lookup execution of candidates() (see its docstring):
        driver plans (file, row-group) hits from footer stats; executors
        pyarrow-read exactly those row groups and pandas-join them to the
        broadcast probe set, emitting pairs directly."""
        import bisect
        import os

        # probe structures: per-bucket sorted hash lists for planning, a
        # (band_idx, band_hash) -> [id_new] map for executor-side pairing
        by_bucket: dict[int, list[int]] = {}
        probe_map: dict[tuple[int, int], list] = {}
        for r in probe_rows:
            by_bucket.setdefault(r["bucket"], []).append(r["band_hash"])
            probe_map.setdefault(
                (r["band_idx"], r["band_hash"]), []
            ).append(r["id_new"])
        for b in by_bucket:
            by_bucket[b] = sorted(set(by_bucket[b]))
        all_keys = sorted({h for ks in by_bucket.values() for h in ks})
        touched_files = [
            f
            for f in man["files"]
            # delta runs have no bucket directory: plan them against the
            # whole probe key set (they are batch-sized, and their rows
            # are band_hash-sorted so row-group ranges still prune)
            if self._is_delta(f) or self._bucket_of(f) in by_bucket
        ]
        if not touched_files:
            return empty
        ranges = self._footer_ranges(
            touched_files, local_root, live_files=list(man["files"])
        )
        hits: list[tuple[str, list[int]]] = []
        for rel in touched_files:
            keys = (
                all_keys
                if self._is_delta(rel)
                else by_bucket[self._bucket_of(rel)]
            )
            rgs = [
                g
                for g, mn, mx, _n in ranges[rel]
                if mn is None
                or bisect.bisect_left(keys, mn)
                < bisect.bisect_right(keys, mx)
            ]
            if rgs:
                hits.append((os.path.join(local_root, rel), rgs))
        if not hits:
            return empty
        id_col = self.id_col
        id_type = empty.schema["id_new"].dataType.simpleString()

        def scan(batches):
            import pandas as pd
            import pyarrow.parquet as pq

            probe_pdf = pd.DataFrame(
                [
                    (bi, bh, i)
                    for (bi, bh), ids in probe_map.items()
                    for i in ids
                ],
                columns=["band_idx", "band_hash", "id_new"],
            )
            for pdf in batches:
                for path, rgs in zip(pdf["path"], pdf["rgs"]):
                    tbl = pq.ParquetFile(path).read_row_groups(
                        list(rgs), columns=[id_col, "band_idx", "band_hash"]
                    )
                    sub = tbl.to_pandas().rename(columns={id_col: "id_stored"})
                    m = sub.merge(probe_pdf, on=["band_idx", "band_hash"])
                    if len(m):
                        yield m[["id_new", "id_stored"]]

        spark = self.spark
        hits_df = spark.createDataFrame(hits, "path string, rgs array<int>")
        n_slots = min(len(hits), spark.sparkContext.defaultParallelism)
        return (
            hits_df.repartition(n_slots)
            .mapInPandas(scan, schema=f"id_new {id_type}, id_stored {id_type}")
            .distinct()
        )

    def compact(
        self,
        drop_bands: DataFrame | None = None,
        drop_keys: DataFrame | None = None,
        fold_duplicates: bool = True,
    ) -> int:
        """Maintenance rewrite of the add-only index (VERDICT r6 #2: a
        deleted doc's bands must not sit in the index forever): drop the
        given docs' band rows and fold redelivery-duplicated rows, in one
        commit. Two removal forms, by what the caller still has:

        - ``drop_bands`` = (id_col, band_idx, band_hash) rows — e.g.
          recomputed from the DocumentStore's stored ``sig`` column BEFORE
          the doc row is deleted. Bucket-pruned: only the buckets those
          band hashes route to are read and rewritten — O(dropped docs x
          num_bands buckets), never O(index).
        - ``drop_keys`` = bare ids (the signatures are already gone).
          Bands of one doc spread across buckets unpredictably, so this is
          a FULL index rewrite — correct, but O(index); prefer drop_bands.

        With neither, compacts multi-file buckets, folds every DELTA RUN
        into the bucket layout (r10 — runs route rows into many buckets,
        so any run forces those buckets' rewrite; use maybe_fold_deltas()
        for the amortized trigger), and (by default) folds duplicate band
        rows — the OPTIMIZE analogue. Returns the number of buckets
        rewritten (0 = nothing to do)."""
        if drop_bands is not None and drop_keys is not None:
            raise ValueError("pass drop_bands OR drop_keys, not both")
        self._check_layout()
        man = self._snapshot()
        if not man or not man["files"]:
            return 0
        if drop_bands is not None:
            keyed = drop_bands.select(
                self.id_col, "band_idx", "band_hash"
            ).withColumn("bucket", F.pmod("band_hash", F.lit(self.n_buckets)))
            touched = {
                r["bucket"]
                for r in keyed.select("bucket").distinct().collect()
            }
            # a dropped row can also sit in a delta run — always include
            # them (they are bounded by the fold trigger)
            files = [
                f
                for f in man["files"]
                if self._is_delta(f) or self._bucket_of(f) in touched
            ]
        elif drop_keys is not None:
            files = list(man["files"])
        else:
            # plain compaction: multi-file buckets need a rewrite; any
            # delta run folds in (its rows belong across the buckets, so
            # every base file must merge — the fold IS the full rewrite
            # the amortized trigger schedules)
            has_delta = any(self._is_delta(f) for f in man["files"])
            if has_delta:
                files = list(man["files"])
            else:
                per_bucket: dict[int, int] = {}
                for f in man["files"]:
                    b = self._bucket_of(f)
                    if b is not None:
                        per_bucket[b] = per_bucket.get(b, 0) + 1
                multi = {b for b, n in per_bucket.items() if n > 1}
                files = [f for f in man["files"] if self._bucket_of(f) in multi]
        if not files:
            return 0
        stored = self._read_files(files)
        if drop_bands is not None:
            survivors = stored.join(
                keyed.select(self.id_col, "band_idx", "band_hash"),
                on=[self.id_col, "band_idx", "band_hash"],
                how="left_anti",
            )
        elif drop_keys is not None:
            survivors = stored.join(
                drop_keys.select(self.id_col), on=self.id_col, how="left_anti"
            )
        else:
            survivors = stored
        if fold_duplicates:
            survivors = survivors.distinct()
        self._staged_commit(
            self._bucketed_writer(survivors).save,
            files,
            op="compact",
            kind="band-index",
        )
        # delta runs have no bucket directory (_bucket_of -> None); count
        # the rewritten buckets, with a folded-runs-only rewrite as 1
        rewritten = {self._bucket_of(f) for f in files}
        return len(rewritten - {None}) or 1

    def maybe_rebucket(self, grow_factor: float = 2.0) -> bool:
        """Maintenance trigger for an auto-bucketed index grown through
        appends (VERDICT r8 #1 — the exact ADVICE r7 #4 failure mode one
        tier over, fixed for IVF cells in r8): a gate started on a small
        corpus keeps batch-1's bucket count while the corpus grows 1000x,
        so per-batch candidate reads grow linearly
        (num_bands x corpus / n_buckets) and the measured-flat gate claim
        quietly expires. This re-runs the auto_buckets derivation at the
        CURRENT committed row count (the sidecar counter append maintains
        — an O(1) driver-side check) and rewrites the layout
        (``rebucket()``) when the rule asks for >= ``grow_factor`` x the
        committed count. Pinned-n_buckets stores never auto-rebucket:
        auto mode is recorded provenance, not a guess — the same rule as
        AnnIndexStore.maybe_rebuild. Returns True iff a rebucket was
        committed."""
        self._check_layout()
        if not self._auto:
            return False
        stored = self._read_layout()
        ideal = self.auto_buckets(
            int(stored.get("n_rows", 0)),
            int(stored.get("target_bucket_rows", self.target_bucket_rows)),
        )
        if ideal < grow_factor * int(stored["n_buckets"]):
            return False
        return self.rebucket()

    def maybe_fold_deltas(self, max_fraction: float = 0.02) -> bool:
        """Amortized LSM fold trigger (r10, pairs with append()'s delta
        runs): merge the delta runs into the bucket layout once their
        rows reach ``max_fraction`` of the committed base (floor:
        target_bucket_rows, so a small store folds once runs reach one
        bucket's worth). The check is driver-side over the manifest +
        cached footers (row counts come from parquet metadata — no scan);
        the fold itself is compact()'s full rewrite, whose cost amortizes
        to O(batch) per append: at fraction f, each row is rewritten
        ~1/f-amortized once per decade of growth. Lookup overhead between
        folds is bounded by the same fraction — candidates() reads runs
        alongside buckets, and runs never exceed f x base rows. Returns
        True iff a fold was committed."""
        self._check_layout()
        man = self._snapshot()
        if not man or not man["files"]:
            return False
        deltas = [f for f in man["files"] if self._is_delta(f)]
        if not deltas:
            return False
        local_root = self._local_root()
        if local_root is not None:
            ranges = self._footer_ranges(
                list(man["files"]), local_root, live_files=list(man["files"])
            )
            delta_rows = sum(
                n for f in deltas for _g, _mn, _mx, n in ranges[f]
            )
            base_rows = sum(
                n
                for f in man["files"]
                if not self._is_delta(f)
                for _g, _mn, _mx, n in ranges[f]
            )
        else:  # non-local root: footer-bound spark counts (still no scan)
            delta_rows = self.spark.read.parquet(
                *[f"{self.root}/{f}" for f in deltas]
            ).count()
            base = [f for f in man["files"] if not self._is_delta(f)]
            base_rows = (
                self.spark.read.option("basePath", self.root)
                .parquet(*[f"{self.root}/{f}" for f in base])
                .count()
                if base
                else 0
            )
        threshold = max(self.target_bucket_rows, max_fraction * base_rows)
        if delta_rows < threshold:
            return False
        return self.compact() > 0

    def rebucket(self, n_buckets: int | None = None) -> bool:
        """Rewrite the committed band rows under a new bucket count —
        a narrow remap (one pmod against the new count; no signature or
        shingle recompute) superseding every prior file in ONE commit, so
        readers see the old or the new layout whole, never a mix. With
        ``n_buckets=None`` the new count is auto_buckets() of the EXACT
        committed row count (measured during the rewrite's first pass —
        the sidecar counter is best-effort; the rewrite is the
        authoritative recount and resets it). Also folds redelivery
        duplicates and multi-file buckets as a side effect (the rewrite
        is one file per new bucket). Returns True iff the layout changed
        (an equal derived count just refreshes the row counter)."""
        self._check_layout()
        man = self._snapshot()
        if not man or not man["files"]:
            return False
        rows = (
            self._read_files(list(man["files"]))
            .select(self.id_col, "band_idx", "band_hash")
            .distinct()
        )
        exact = rows.count()
        final = (
            n_buckets
            if n_buckets is not None
            else self.auto_buckets(exact, self.target_bucket_rows)
        )
        if final == self.n_buckets:
            if self._auto:
                self._layout_update(n_rows=exact)
            return False
        self._staged_commit(
            self._bucketed_writer(
                rows.withColumn("bucket", F.pmod("band_hash", F.lit(final)))
            ).save,
            list(man["files"]),
            op="rebucket",
            kind="band-index",
        )
        self._layout_update(n_buckets=final, n_rows=exact)
        self.n_buckets = final
        return True


class DocumentStore(SnapshotStore):
    """Hash-sharded snapshot store for keyed corpus tables (module
    docstring). ``key_col`` must be an integral id column (the portable
    multiplicative hash is int64 arithmetic — string keys should be
    pre-hashed to an id, e.g. xxhash64, upstream).

    Shard-count modes (r9 — the third tier to get the growth leg, after
    IVF cells in r8 and band buckets earlier in r9):

    - ``n_shards=<int>`` (pinned, default 16): the pre-r9 behavior — the
      creation-time count is layout forever, and the deterministic
      shard = training-shard identity holds across the store's life.
    - ``n_shards=None`` (auto): the count is DERIVED state —
      auto_shards(n_rows, target_shard_rows) with sidecar provenance and
      a row counter maintained exactly by append_docs/delete_docs (the
      auto-mode write paths; save_docs in auto mode recounts the store
      after commit — documented there). ``maybe_reshard()`` re-derives
      the count at the committed size and remaps the layout (a narrow
      re-hash of the key column — one pmod, one commit) once the rule
      asks for >= grow_factor x the current count. Without it, an
      append-only store started small keeps batch-1's shard count while
      the corpus grows 1000x: each shard becomes corpus/16, compaction
      rewrites balloon, and the one-file-per-shard write loses all
      parallelism. Same single-maintainer note as
      BandIndexStore.rebucket."""

    #: target committed rows per shard for the auto derivation — ~250k
    #: ~1 KB docs ≈ a 250 MB shard, the "one shard fits an executor
    #: write task" rule from the module docstring made a number
    TARGET_SHARD_ROWS = 250_000

    @staticmethod
    def auto_shards(n_rows: int, target_shard_rows: int = 250_000) -> int:
        """Shard count keeping expected occupancy ~target_shard_rows at
        n_rows committed docs; clamped to [4, 2^18]."""
        import math as _math

        return max(
            4,
            min(
                1 << 18,
                _math.ceil(max(1, n_rows) / max(1, target_shard_rows)),
            ),
        )

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "doc_id",
        n_shards: int | None = 16,
        target_shard_rows: int | None = None,
    ):
        if n_shards is not None and n_shards <= 0:
            raise ValueError("n_shards must be positive")
        super().__init__(spark, root)
        self.key_col = key_col
        self.target_shard_rows = (
            target_shard_rows
            if target_shard_rows is not None
            else self.TARGET_SHARD_ROWS
        )
        self._auto = n_shards is None
        self.n_shards = (
            n_shards
            if n_shards is not None
            else self.auto_shards(0, self.target_shard_rows)
        )
        self._layout_checked = False

    def _check_layout(self) -> None:
        """Pin (n_shards, key_col) in a _layout.json sidecar on first
        write and VALIDATE on every later open (code-review r6): reopening
        a 16-shard store with n_shards=32 would hash keys to different
        shards, so upserts would miss the stored copy (duplicate keys) and
        deletes would miss rows entirely — silently. Layout drift is a
        config error and must raise, exactly like schema drift.

        Auto-sharded stores RE-ADOPT the sidecar's current n_shards on
        every call (one small driver-side read): in auto mode the count
        is derived state, and a reshard — by this handle or another —
        must be visible to the next operation, not the next process."""
        if self._layout_checked:
            if self._auto:
                self.n_shards = int(self._read_layout()["n_shards"])
            return

        fs, p = self._fs_path(self._LAYOUT)
        if fs.exists(p):
            stored = self._read_layout()
            if self._auto:
                # adopt the stored layout wholesale (auto stores keep
                # their grown count; opening a PINNED store with
                # n_shards=None adopts the pinned count and stays pinned)
                self.n_shards = int(stored["n_shards"])
                self._auto = bool(stored.get("auto_shards", False))
                if stored.get("target_shard_rows"):
                    self.target_shard_rows = int(stored["target_shard_rows"])
            elif stored.get("auto_shards", False):
                raise ValueError(
                    f"DocumentStore at {self.root} is auto-sharded (its "
                    f"count is derived state, currently "
                    f"{stored.get('n_shards')}) — open it with "
                    f"n_shards=None instead of pinning {self.n_shards}"
                )
            if (
                stored.get("n_shards") != self.n_shards
                or stored.get("key_col") != self.key_col
            ):
                raise ValueError(
                    f"DocumentStore layout mismatch at {self.root}: stored "
                    f"{stored}, requested n_shards={self.n_shards} "
                    f"key_col={self.key_col!r}"
                )
        else:
            self._write_layout(
                {
                    "n_shards": self.n_shards,
                    "key_col": self.key_col,
                    "auto_shards": self._auto,
                    "target_shard_rows": self.target_shard_rows,
                    "n_rows": 0,
                }
            )
        self._layout_checked = True

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _shard_of(rel: str) -> int | None:
        seg = rel.split("/", 1)[0]
        if not seg.startswith("shard="):
            return None
        try:
            return int(seg[6:])
        except ValueError:
            return None

    def _shard_files(self, files: list[str], shards: set[int]) -> list[str]:
        """Manifest-level shard pruning (the corpus analogue of
        OhlcvStore._series_window_files): cut the listing driver-side so
        the merge scan is O(touched shards), not O(store)."""
        return [f for f in files if self._shard_of(f) in shards]

    def _shard_writer(self, rows: DataFrame):
        """Writer of the shard layout: one file per shard, rows key-sorted
        for row-group skipping on point reads."""
        return (
            rows.repartition("shard")
            .sortWithinPartitions(self.key_col)
            .write.partitionBy("shard")
            .option("compression", "zstd")
            .mode("overwrite")
        )

    def _same_shard_rule(self, superseded: list[str], touched: set[int], op: str):
        """_staged_commit conflict rule of the shard-merging writes: the
        touched shards' file set must be unchanged in ANY direction since
        the merge snapshot. Removals mean the merge base is gone; ADDITIONS
        matter too (code-review r6): two writers upserting the same EMPTY
        shard would both see superseded=[] and silently commit duplicate
        keys."""
        sup = set(superseded)

        def removed(latest: dict | None) -> list[str]:
            now = set(self._shard_files(self._live(latest), touched))
            if now != sup:
                raise RuntimeError(
                    f"concurrent same-shard write during {op}: touched "
                    f"shards' files changed since the merge snapshot; "
                    f"e.g. {sorted(now ^ sup)[:2]}"
                )
            return superseded

        return removed

    def _check_schema_against_stored(
        self, incoming: DataFrame, live: list[str], op: str
    ) -> None:
        """Identical (name, dataType) pairs required against the TABLE
        schema (one driver-side footer read), not just the overlapping
        shards — a write whose keys all hash to untouched shards would
        otherwise silently commit a drifted-schema shard, and a NAME-only
        check (ADVICE r6) would let same-name/drifted-type rows (int vs
        bigint n_chars) commit mixed-type parquet that only explodes at
        read time, after publish. "shard" is recomputed by shard_assign
        (always int), so names suffice for it."""
        if not live:
            return
        stored_schema = self._committed_parquet(live[:1], base_path=self.root).schema
        stored_fields = {
            (f.name, f.dataType.simpleString())
            for f in stored_schema.fields
            if f.name != "shard"
        }
        incoming_fields = {
            (f.name, f.dataType.simpleString())
            for f in incoming.schema.fields
            if f.name != "shard"
        }
        if incoming_fields != stored_fields:
            raise ValueError(
                f"{op}: schema drift vs stored table "
                f"(stored {sorted(stored_fields)}, "
                f"incoming {sorted(incoming_fields)})"
            )

    # -- write path --------------------------------------------------------
    def save_docs(self, df: DataFrame, full_refresh: bool = False) -> int:
        """Keyed upsert: incoming rows win on ``key_col``; only the shards
        the incoming keys hash to are read, merged, and rewritten. One
        Spark job + one manifest commit regardless of how many shards are
        touched. Returns the number of shards rewritten.

        ``full_refresh=True`` publishes the incoming frame as the ENTIRE
        new table state in one commit (corpus republish): every live file
        is superseded and no stored rows are merged — stored keys absent
        from the incoming frame are dropped, transactionally (concurrent
        readers keep the old snapshot; history/time travel retain it).

        Null keys are a data error (they would be unfindable by any later
        upsert) and raise; among duplicate incoming keys the one with the
        smallest content hash survives (VERDICT r9 #3: the survivor must
        not depend on partitioning, so the committed BYTES are replay-
        and repartition-invariant, not just the key set)."""
        self._check_layout()
        incoming = shard_assign(df, self.n_shards, self.key_col)
        # one model-sized agg: touched shards + null-key guard (<= n_shards
        # + 1 rows ever reach the driver)
        stats = (
            incoming.groupBy("shard")
            .agg(F.sum(F.col(self.key_col).isNull().cast("long")).alias("n_null"))
            .collect()
        )
        n_null = sum(r["n_null"] for r in stats)
        if n_null:
            raise ValueError(f"save_docs: {n_null} row(s) with null {self.key_col}")
        touched = sorted(r["shard"] for r in stats)
        if not touched:
            return 0
        man = self._snapshot()
        live = man["files"] if man else []
        self._check_schema_against_stored(incoming, live, "save_docs")
        if full_refresh:
            superseded = list(live)
            ranked = incoming.withColumn("_rank", F.lit(0))
        else:
            superseded = self._shard_files(live, set(touched))
            ranked = incoming.withColumn("_rank", F.lit(0))
            if superseded:
                stored = self._committed_parquet(
                    superseded, base_path=self.root
                ).withColumn("_rank", F.lit(1))
                ranked = ranked.unionByName(stored)
        # content-hash tie-break (VERDICT r9 #3): two incoming rows with the
        # same key both carry _rank 0 — without a total order the survivor
        # (and thus the committed bytes) would depend on partitioning.
        w = Window.partitionBy(self.key_col).orderBy(
            "_rank", _content_tiebreak(ranked, exclude=("_rank",))
        )
        merged = (
            ranked.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rank", "_rn")
        )
        self._staged_commit(
            self._shard_writer(merged).save,
            # a full refresh replaces whatever is live NOW (a concurrent
            # commit's files are superseded too — last refresh wins,
            # atomically)
            removed_fn=(
                self._live
                if full_refresh
                else self._same_shard_rule(superseded, set(touched), "save_docs")
            ),
        )
        if self._auto:
            # upsert mixes inserts and replacements, so the counter cannot
            # be rolled forward from the delta alone — recount the live
            # files' footers (auto-mode stores write through append_docs
            # on the hot path; save_docs here is the rare bulk-load /
            # correction case, so the O(files) footer count is maintenance
            # cost, not per-batch cost)
            man2 = self._snapshot()
            total = (
                self.spark.read.option("basePath", self.root)
                .parquet(*[f"{self.root}/{f}" for f in man2["files"]])
                .count()
                if man2 and man2["files"]
                else 0
            )
            self._layout_update(n_rows=int(total))
        return len(touched)

    def append_docs(self, df: DataFrame, on_existing: str = "raise") -> int:
        """Add-only commit of NEW keys — the O(batch) write path for
        append-mostly ingest (the r9 gate scaling finding: save_docs'
        rewrite amplification is touched_shards x shard_size, and a
        micro-batch whose keys hash to every shard rewrites the WHOLE
        store — ~4.5 GB per 2000-doc batch at the 4.5M-doc gate point,
        the dominant term that made the measured gate grow 8 -> 36 s
        across corpus decades). No stored file is read or superseded:
        the batch lands as one new file per touched shard (same
        layout + key sort as save_docs, so point reads keep their
        row-group skipping), concurrent appenders rebase cleanly (the
        add-only trivial case), and the per-batch fragmentation is
        folded back by optimize() at maintenance cadence (the gate's
        shard-compaction leg).

        Correctness contract: keys must be NEW — reads do NOT
        precedence-merge (the store stays scan-clean by construction
        instead), so an appended duplicate of a stored key would leave
        two live rows. ``on_existing`` picks the enforcement:

        - ``"raise"`` (default): point-read the incoming keys
          (read_keys — pushed-filter fast path, batch-bounded) and raise
          if any is already stored;
        - ``"skip"``: silently drop already-stored keys and append the
          rest — the replay-convergent form for streaming (a
          checkpoint-replayed batch converges to a no-op), and the
          append-mode analogue of first-write-wins;
        - ``"trust"``: no check — for callers with an upstream proof
          (the near-dup gate's band check detects every identical
          redelivery, but uses "skip" anyway to close the
          crash-between-commits replay window).

        Among duplicate incoming keys one row survives (the save_docs
        rule). Returns the number of rows appended."""
        if on_existing not in ("raise", "skip", "trust"):
            raise ValueError(f"append_docs: unknown on_existing {on_existing!r}")
        self._check_layout()
        incoming = shard_assign(df, self.n_shards, self.key_col)
        stats = (
            incoming.groupBy("shard")
            .agg(F.sum(F.col(self.key_col).isNull().cast("long")).alias("n_null"))
            .collect()
        )
        n_null = sum(r["n_null"] for r in stats)
        if n_null:
            raise ValueError(f"append_docs: {n_null} row(s) with null {self.key_col}")
        if not stats:
            return 0
        man = self._snapshot()
        live = man["files"] if man else []
        self._check_schema_against_stored(incoming, live, "append_docs")
        if on_existing != "trust" and live:
            existing = self.read_keys(
                incoming.select(self.key_col).distinct()
            ).select(self.key_col)
            if on_existing == "raise":
                n_dup = existing.count()
                if n_dup:
                    raise ValueError(
                        f"append_docs: {n_dup} incoming key(s) already "
                        f"stored — append-only stores do not merge; use "
                        f"on_existing='skip' or save_docs()"
                    )
            else:
                # survivor count rides the checkpoint job (r13) — this was
                # a separate limit(1).count() action
                incoming, skip_obs = checkpoint_observed(
                    incoming.join(existing, self.key_col, "left_anti")
                )
                if not int(skip_obs["n"]):
                    return 0
        # one-survivor rule among duplicate incoming keys (save_docs parity;
        # content-hash order makes the survivor partitioning-invariant)
        w = Window.partitionBy(self.key_col).orderBy(_content_tiebreak(incoming))
        deduped = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # the appended-row count rides the staging write as an observe()
        # metric — it was a separate pre-write count() action (r13, guide
        # §1.2/§5: one fewer driver-synchronized job on the streaming
        # gate's hot commit path)
        from pyspark.sql import Observation

        obs = Observation()
        new_files = self._staged_commit(
            self._shard_writer(
                deduped.observe(obs, F.count(F.lit(1)).alias("n"))
            ).save
        )
        if not new_files:
            return 0
        n_rows = int(obs.get["n"])
        if self._auto and n_rows:
            self._bump_rows(n_rows)
        return n_rows

    def delete_docs(self, keys: DataFrame) -> int:
        """Keyed delete: rewrite the touched shards WITHOUT the given keys
        (``keys`` must carry ``key_col``). Anti-join inside the touched
        shards only; commit semantics identical to save_docs. Returns the
        number of shards rewritten."""
        self._check_layout()
        keyed = shard_assign(keys.select(self.key_col), self.n_shards, self.key_col)
        touched = {
            r["shard"]
            for r in keyed.select("shard").distinct().collect()
        }
        man = self._snapshot()
        if not man or not touched:
            return 0
        superseded = self._shard_files(man["files"], touched)
        if not superseded:
            return 0
        stored = self._committed_parquet(superseded, base_path=self.root)
        survivors = stored.join(
            keyed.select(self.key_col), on=self.key_col, how="left_anti"
        )
        new_files = self._staged_commit(
            self._shard_writer(survivors).save,
            removed_fn=self._same_shard_rule(superseded, touched, "delete_docs"),
        )
        if self._auto:
            # exact removed-row delta from parquet footers (the rewritten
            # shard files are batch-bounded; no plan re-execution)
            before = (
                self.spark.read.option("basePath", self.root)
                .parquet(*[f"{self.root}/{f}" for f in superseded])
                .count()
            )
            after = (
                self.spark.read.option("basePath", self.root)
                .parquet(*[f"{self.root}/{f}" for f in new_files])
                .count()
                if new_files
                else 0
            )
            self._bump_rows(after - before)
        return len({self._shard_of(f) for f in superseded})

    # -- read path ---------------------------------------------------------
    def read(self) -> DataFrame:
        """Latest committed snapshot (all shards). Raises on an empty store
        — there is no schema to fabricate an empty frame from."""
        man = self._snapshot()
        if not man or not man["files"]:
            raise ValueError(f"DocumentStore at {self.root} is empty")
        return self._committed_parquet(man["files"], base_path=self.root)

    #: key sets at or below this take read_keys' pushed-filter path: the
    #: values collect to the driver (bounded: 8k longs) and land on the
    #: scan as an IN predicate, so parquet row-group min/max + dictionary
    #: stats skip most of each touched shard's file (shard files are
    #: written key-sorted for exactly this). Above it, the semi-join path
    #: (no driver materialization) — the measured-size gate pattern.
    READ_KEYS_PUSHDOWN_MAX = 8192

    def read_keys(self, keys: DataFrame) -> DataFrame:
        """Point-lookup scan: prune to the shards the requested keys hash
        to (manifest-level, driver-side), then either push the key list
        into the scan as an IN filter (small key sets — row-group
        skipping makes the read O(matching row groups), not O(touched
        shards), the r9 gate fix: at a 4.5M-doc store a 2000-key batch
        touches every shard, and the semi-join form read them WHOLE) or
        semi-join (large key sets)."""
        self._check_layout()
        # a null key never matches a stored row (save/append reject null
        # keys), and count_distinct below skips nulls while the probe
        # collect would not — drop them so the count and the collect agree
        keyed = shard_assign(
            keys.select(self.key_col).dropna(), self.n_shards, self.key_col
        )
        # COUNT-FIRST planning (restored r14, same rule as candidates():
        # the r13 limit(MAX+1)-collect pulled up to 8193 full (key, shard)
        # rows to decide the path and then ran a SECOND distinct collect
        # on oversized sets — two jobs plus a wasted transfer exactly on
        # the corpus-sized dedup probes; guide §5): one shard-keyed
        # planning agg decides the path AND yields the touched-shard set,
        # shard-cardinality-sized; keys are only collected on the small
        # path after the count proves them within bound.
        per_shard = (
            keyed.groupBy("shard")
            .agg(F.count_distinct(self.key_col).alias("n"))
            .collect()
        )
        touched = {r["shard"] for r in per_shard}
        small = sum(r["n"] for r in per_shard) <= self.READ_KEYS_PUSHDOWN_MAX
        if small:
            probe = [
                r[self.key_col]
                for r in keyed.select(self.key_col).distinct().collect()
            ]
        man = self._snapshot()
        if not man:
            raise ValueError(f"DocumentStore at {self.root} is empty")
        files = self._shard_files(man["files"], touched)
        if not files:
            return self.read().limit(0)  # store schema, zero rows
        df = self._committed_parquet(files, base_path=self.root)
        if small:
            return df.where(F.col(self.key_col).isin(probe))
        return df.join(keyed.select(self.key_col), on=self.key_col, how="left_semi")

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read (inherited retention rules: the trailing
        two-commit window)."""
        if version not in self.snapshot_versions():
            raise ValueError(
                f"snapshot v{version} is not retained "
                f"(available: {self.snapshot_versions()})"
            )
        man = self._resolve(version)
        if not man["files"]:
            raise ValueError(f"snapshot v{version} is empty")
        return self._committed_parquet(man["files"], base_path=self.root)

    # -- maintenance -------------------------------------------------------
    def optimize(self, max_records_per_file: int = 0) -> int:
        """Shard compaction (Delta OPTIMIZE parity, mirroring
        OhlcvStore.optimize): bin-pack every shard holding more than one
        file back to one file (or size-bounded files). Planning is
        metadata-only over the manifest listing; the rewrite touches ONLY
        multi-file shards; returns how many shards were compacted."""
        man = self._snapshot()
        if not man:
            return 0
        groups: dict[int, list[str]] = {}
        for rel in man["files"]:
            s = self._shard_of(rel)
            if s is not None:
                groups.setdefault(s, []).append(rel)
        todo = {s: fl for s, fl in groups.items() if len(fl) > 1}
        if not todo:
            return 0
        originals = sorted(f for fl in todo.values() for f in fl)
        df = self.spark.read.option("basePath", self.root).parquet(
            *[f"{self.root}/{f}" for f in originals]
        )
        writer = self._shard_writer(df)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        self._staged_commit(writer.save, originals, op="optimize")
        return len(todo)

    def maybe_reshard(self, grow_factor: float = 2.0) -> bool:
        """Maintenance trigger for an AUTO-sharded store grown through
        appends (the r9 growth-leg rule applied to the third derived
        layout, after IVF cells and band buckets): re-run the auto_shards
        derivation at the committed row count (O(1) sidecar check) and
        remap the layout once the rule asks for >= ``grow_factor`` x the
        current count. Pinned-n_shards stores never auto-reshard (the
        recorded-provenance rule). Returns True iff a reshard was
        committed."""
        self._check_layout()
        if not self._auto:
            return False
        stored = self._read_layout()
        ideal = self.auto_shards(
            int(stored.get("n_rows", 0)),
            int(stored.get("target_shard_rows", self.target_shard_rows)),
        )
        if ideal < grow_factor * int(stored["n_shards"]):
            return False
        return self.reshard()

    def reshard(self, n_shards: int | None = None) -> bool:
        """Rewrite the committed rows under a new shard count — a narrow
        remap (one portable-hash pmod against the new count; no content
        recompute) superseding every prior file in ONE commit. With
        ``n_shards=None`` the new count is auto_shards() of the EXACT
        committed row count (the rewrite recounts; the sidecar counter is
        best-effort). Also folds multi-file shards as a side effect.
        NOTE: resharding changes the store-shard <-> training-shard
        identity (shard = hash mod n); exporters that pinned a shard
        count should export through curation.shard_assign with their own
        n, which is independent of the store layout. Returns True iff
        the layout changed."""
        self._check_layout()
        man = self._snapshot()
        if not man or not man["files"]:
            return False
        rows = (
            self.spark.read.option("basePath", self.root)
            .parquet(*[f"{self.root}/{f}" for f in man["files"]])
            .drop("shard")
        )
        exact = rows.count()
        final = (
            n_shards
            if n_shards is not None
            else self.auto_shards(exact, self.target_shard_rows)
        )
        if final == self.n_shards:
            if self._auto:
                self._layout_update(n_rows=exact)
            return False
        self._staged_commit(
            self._shard_writer(shard_assign(rows, final, self.key_col)).save,
            list(man["files"]),
            op="reshard",
        )
        self._layout_update(n_shards=final, n_rows=exact)
        self.n_shards = final
        return True
