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
recorded in the manifest by the first commit; later writes must carry the
identical (name, type) set (a drifted pipeline fails loudly instead of
silently writing a mixed-schema table), and reads plan from the recorded
schema without an inference job (store.py SCHEMAS).

Concurrency is inherited: CAS manifest publish, read-rebase-commit for
disjoint-shard writers, detected-and-raised conflicts for same-shard races,
two-commit vacuum grace for concurrent readers.
"""

from __future__ import annotations

import json
import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from binance_data_framework_spark.materialize import checkpoint_observed
from binance_data_framework_spark.operators.curation import shard_assign
from binance_data_framework_spark.store import SnapshotStore, _fields, _maintenance, _saving


def _content_tiebreak(df: DataFrame, exclude: tuple[str, ...] = ()):
    """Deterministic total-order key for one-survivor windows: xxhash64
    over every data column (sorted by name, bookkeeping columns excluded),
    so which duplicate survives never depends on partitioning or task
    scheduling (VERDICT r9 #3). Identical duplicate ROWS collide, but then
    every survivor choice commits the same bytes — the invariance we want."""
    skip = set(exclude) | {"shard", "_rn"}
    cols = sorted(c for c in df.columns if c not in skip)
    return F.xxhash64(*[F.col(c) for c in cols])


def _band_pairs(hits, probe, id_col: str):
    """pandas (id_new, id_stored) frames of the committed band rows in the
    row groups ``hits`` (SnapshotStore._row_group_hits) that match a row
    of ``probe`` (band_idx, band_hash, id_new) on the band key, read with
    pyarrow: the point lookup's scan, run by executors for a frame probe
    and on the driver for a Table probe (BandIndexStore.candidates)."""
    import pyarrow.parquet as pq

    for path, rgs in hits:
        tbl = pq.ParquetFile(path).read_row_groups(
            list(rgs), columns=[id_col, "band_idx", "band_hash"]
        )
        sub = tbl.to_pandas().rename(columns={id_col: "id_stored"})
        m = sub.merge(probe, on=["band_idx", "band_hash"])
        if len(m):
            yield m[["id_new", "id_stored"]]


def _alias(name: str) -> property:
    """A tier's public name for one of _HashLayoutStore's attributes."""
    return property(
        lambda self: getattr(self, name),
        lambda self, value: setattr(self, name, value),
    )


class _HashLayoutStore(SnapshotStore):
    """The auto-sized hash layout of BandIndexStore (``bucket=<k>``) and
    DocumentStore (``shard=<k>``): rows live under ``<part>=<k>/`` with
    k = hash(key) mod n, so a write or lookup touches only the partitions
    its keys route to. Two modes for n:

    - pinned (``n_<part>s=<int>``): the creation-time count is layout,
      forever; a pinned store never relayouts on its own (the same
      provenance rule as a pinned n_centroids ANN index).
    - auto (``n_<part>s=None``): the count is DERIVED state owned by the
      store — ``_auto_count`` of the committed row count. The growth
      trigger (``_maybe_grow``, behind ``maybe_rebucket``/
      ``maybe_reshard``) re-derives it and remaps the layout once the rule
      asks for >= GROW_FACTOR x the current count. Without it, a store
      started small keeps batch-1's count while the corpus grows 1000x.

    The count and the row count are table state, committed with the files
    (the Delta protocol's ``metaData``/``numRecords`` beside its ``add``
    actions): every commit records ``{"count", "rows"}`` as the manifest's
    layout (_staged_commit), rows as the previous head's plus the write's
    row delta, added against the head the commit CAS'd on, so the row
    count is exact under concurrent writers. Each operation routes with
    the count of the snapshot it resolves (_snapshot), a write whose
    rebased head holds another count raises instead of publishing
    misrouted rows, and a remap publishes its count in the same manifest
    as its files, so no handle ever routes with a count its files do not
    have.

    The ``_layout.json`` sidecar pins the store's creation-time identity
    (the key column, the auto flag, the target rows and the tier's own
    fields) on first contact and is validated by every later handle's
    first contact (_open). This class owns the count rule, mode setup,
    that check, the partition-dir parser (``_part_of``), the growth
    trigger and the remap. A tier supplies its data (``_PART``, the clamp
    bounds, ``_KEY_ATTR``, the remap's commit ``_KIND``) and hooks:
    ``_remap_rows(man)`` and ``_remap_writer(rows, n)``, the remap's row
    source and staged write, and for sidecar fields of its own,
    ``_layout_extra``/``_check_extra``."""

    #: partition directory name; the sidecar fields derive from it
    #: (``auto_<part>s``, ``target_<part>_rows``)
    _PART = ""
    #: clamp bounds of the derived count
    _MIN_PARTS = 1
    _MAX_PARTS = 1
    #: name of the key attribute and of its sidecar field
    _KEY_ATTR = ""
    #: staged-commit kind of the remap (its conflict message)
    _KIND = ""
    #: the identity sidecar, outside the manifest protocol
    _LAYOUT = "_layout.json"

    @classmethod
    def _auto_count(cls, n_rows: int, target_rows: int) -> int:
        """Partition count keeping expected committed occupancy at
        ~target_rows for n_rows committed rows — the auto_planes/
        auto_centroids rule (PLANS.md scale rule #1: parameters bounding
        partition occupancy must be functions of corpus size, never
        constants), clamped to [_MIN_PARTS, _MAX_PARTS]."""
        return max(
            cls._MIN_PARTS,
            min(cls._MAX_PARTS, math.ceil(max(1, n_rows) / max(1, target_rows))),
        )

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str,
        n: int | None,
        target_rows: int,
    ):
        if n is not None and n <= 0:
            raise ValueError(f"n_{self._PART}s must be positive")
        super().__init__(spark, root)
        self._key = key
        self._target = target_rows
        self._auto = n is None
        self._n = n if n is not None else self._auto_count(0, target_rows)
        # committed rows as of this handle's last snapshot or commit
        self._rows = 0
        self._layout_checked = False

    def _read_layout(self) -> dict:
        return json.loads(self._read_bytes(self._LAYOUT))

    def _write_layout(self, layout: dict) -> None:
        self._write_bytes(self._LAYOUT, json.dumps(layout).encode())

    def _snapshot(self) -> dict | None:
        """Latest snapshot; its count becomes this handle's routing count.
        A handle's first call checks the store's identity (_open)."""
        man = super()._snapshot()
        if not self._layout_checked:
            man = self._open(man)
        if man and man["layout"]:
            self._n, self._rows = man["layout"]["count"], man["layout"]["rows"]
        return man

    def _check_layout(self) -> None:
        """Make this handle's first contact (_snapshot) if it has not: an
        operation that routes keys without resolving a snapshot routes
        with the count of the handle's last snapshot or commit."""
        if not self._layout_checked:
            self._snapshot()

    def _open(self, man: dict | None) -> dict | None:
        """First contact of a handle with snapshot ``man``: pin the
        identity in the sidecar on first write and VALIDATE it on every
        later open (code-review r6). Reopening with a different key column
        or count would route the same key to a different partition, so
        upserts would miss the stored copy, deletes and lookups would miss
        rows — silently. Layout drift is a config error and must raise,
        exactly like schema drift.

        An auto handle adopts the stored mode: a reopened auto store keeps
        its grown count, and opening a PINNED store with None adopts the
        head's count and stays pinned (auto provenance is recorded at
        creation, not re-guessed). Pinning an auto store raises, and so
        does a pinned count other than the head's.

        A head written before the manifest recorded the layout (its count
        and row count then lived in the sidecar) is upgraded here, once:
        one metadata-only commit records the sidecar's count and the
        head's exact row count, and the sidecar keeps only the identity.
        Returns the snapshot, upgraded."""
        count, auto, target = (
            f"n_{self._PART}s",
            f"auto_{self._PART}s",
            f"target_{self._PART}_rows",
        )
        name, pinned = type(self).__name__, not self._auto
        fs, p = self._fs_path(self._LAYOUT)
        if not fs.exists(p):
            stored, fresh = {}, {
                self._KEY_ATTR: self._key,
                **self._layout_extra(),
                auto: self._auto,
                target: self._target,
            }
        else:
            stored = self._read_layout()
            if self._auto:
                self._auto = bool(stored.get(auto, False))
                self._target = int(stored.get(target) or self._target)
            elif stored.get(auto, False):
                raise ValueError(
                    f"{name} at {self.root} is auto-{self._PART}ed (its "
                    f"count is derived state) — open it with {count}=None "
                    f"instead of pinning {self._n}"
                )
            fresh = {k: v for k, v in stored.items() if k not in (count, "n_rows")}
            fresh.update(self._check_extra(stored, man))
        if man and man["files"] and not man["layout"]:
            man = self._upgrade(int(stored.get(count, self._n)))
        held = man["layout"]["count"] if man and man["layout"] else self._n
        if fresh.get(self._KEY_ATTR) != self._key or (pinned and held != self._n):
            raise ValueError(
                f"{name} layout mismatch at {self.root}: stored {fresh} with "
                f"{count}={held}, requested {count}={self._n} "
                f"{self._KEY_ATTR}={self._key!r}"
            )
        if fresh != stored:
            self._write_layout(fresh)
        self._layout_checked = True
        return man

    def _upgrade(self, n: int) -> dict:
        """One metadata-only commit recording count ``n`` and the head's
        exact row count on a head without layout metadata (a concurrent
        upgrade makes it a no-op); returns the new head."""
        self._commit_rebased(
            lambda latest: None if latest["layout"] else ([], []),
            layout=lambda prev, *_: {
                "count": n,
                "rows": self._row_count(prev["files"], self._key, prev),
            },
        )
        return super()._snapshot()

    def _layout_extra(self) -> dict:
        """The tier's own sidecar fields, written at creation."""
        return {}

    def _check_extra(self, stored: dict, man: dict | None) -> dict:
        """Validate the tier's own sidecar fields on first contact with
        snapshot ``man``; returns the fields to record."""
        return {}

    def _part_of(self, rel: str) -> int | None:
        """Partition index of a store-relative path; None outside the
        ``<part>=<k>/`` layout (e.g. a band delta run)."""
        name, _, k = rel.split("/", 1)[0].partition("=")
        try:
            return int(k) if name == self._PART else None
        except ValueError:
            return None

    def _staged_commit(self, write, superseded=(), *, rows=None, **kw):
        """SnapshotStore._staged_commit that records the layout: the count
        this write routed with and the head's row count plus the write's
        delta — ``rows()``, evaluated after the write, or else the footer
        rows of the added files minus those of the removed ones. A rebased
        head whose count differs from the routed one raises the conflict,
        and this handle adopts the head's count, so a retry routes with
        it."""
        routed, done = self._n, {}

        def layout(prev, added, removed, new):
            head = prev and prev["layout"] or {"count": routed, "rows": 0}
            if head["count"] != routed:
                self._n = head["count"]
                raise RuntimeError(
                    f"concurrent re{self._PART}: this write routed its rows "
                    f"with {routed} {self._PART}s, the head has "
                    f"{head['count']} — retry"
                )
            if rows is not None:
                delta = rows()
            else:  # the footer cache keeps the files of both snapshots
                live = {**new, "files": new["files"] + removed}
                delta = self._row_count(added, self._key, live)
                delta -= self._row_count(removed, self._key, live)
            done.update(count=routed, rows=head["rows"] + delta)
            return dict(done)

        new_files = super()._staged_commit(write, superseded, layout=layout, **kw)
        if done:
            self._n, self._rows = done["count"], done["rows"]
        return new_files

    def _maybe_grow(self) -> bool:
        """The growth trigger, O(1): the count rule at the row count of
        this handle's last snapshot or commit; remaps once it asks for >=
        GROW_FACTOR x the current count. Pinned stores never grow.
        True iff a remap committed."""
        self._check_layout()
        ideal = self._auto_count(self._rows, self._target)
        return self._auto and ideal >= self.GROW_FACTOR * self._n and self._remap(None)

    def _remap(self, n: int | None) -> bool:
        """Rewrite the committed rows under count ``n`` — a narrow remap
        (one hash mod the new count; no content recompute) superseding
        every prior file in ONE commit that also records the new count,
        so readers see the old or the new layout whole, never a mix, and
        no handle routes with a count its files do not have. ``n=None``
        derives the count from the EXACT committed row count, measured on
        the rewrite's rows, which the commit records. Any commit since the
        remap's snapshot raises its conflict: a file it did not read would
        keep rows under the old count. Also folds multi-file partitions
        (one file per new partition). True iff the layout changed; an
        equal count commits nothing."""
        man = self._snapshot()
        if not man or not man["files"]:
            return False
        rows = self._remap_rows(man)
        exact = rows.count()
        final = n if n is not None else self._auto_count(exact, self._target)
        if final == self._n:
            return False
        who = f"{self._KIND} write" if self._KIND else "write"

        def whole(latest: dict | None) -> list[str]:
            if self._live(latest) != man["files"]:
                raise RuntimeError(
                    f"concurrent {who} during re{self._PART}: the files "
                    f"changed since its snapshot — retry"
                )
            return man["files"]

        super()._staged_commit(
            self._remap_writer(rows, final),
            removed_fn=whole,
            layout=lambda *_: {"count": final, "rows": exact},
        )
        self._n, self._rows = final, exact
        return True


class BandIndexStore(_HashLayoutStore):
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
    bounding per-bucket file size and join-path pruning. Pinned
    (``n_buckets=<int>``) and auto (``n_buckets=None``) modes, growth
    (``maybe_rebucket``), the count in the manifest and the identity
    sidecar are _HashLayoutStore's;
    re-bucketing is a narrow remap of the committed (id, band_idx,
    band_hash) rows — pmod against the new count; no signature or
    shingle recompute.

    The band-GENERATION params (num_hashes/num_bands/shingle_n) stay
    pinned in BOTH modes, deliberately: unlike the bucket count (pure
    physical layout), they define the near-duplicate SEMANTICS — the
    banding recall curve — so growing them with the corpus would silently
    change which documents count as duplicates. Scaling lookup cost is
    the bucket count's job."""

    _PART, _MIN_PARTS, _MAX_PARTS = "bucket", 8, 1 << 20
    _KEY_ATTR, _KIND = "id_col", "band-index"
    id_col = _alias("_key")
    n_buckets = _alias("_n")
    target_bucket_rows = _alias("_target")
    maintain = _maintenance("maybe_rebucket", "maybe_fold_deltas", "compact")

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
        """Bucket count for n_rows committed band rows (_auto_count).
        Clamped to [8, 2^20]: 8 keeps a tiny store from degenerating to
        one file, 2^20 x 50k rows ≈ 5e10 band rows before the clamp
        binds."""
        return BandIndexStore._auto_count(n_rows, target_bucket_rows)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        n_buckets: int | None = 64,
        params: dict | None = None,
        target_bucket_rows: int | None = None,
    ):
        if target_bucket_rows is None:
            target_bucket_rows = self.TARGET_BUCKET_ROWS
        super().__init__(spark, root, id_col, n_buckets, target_bucket_rows)
        # band-GENERATION parameters (minhash num_hashes/num_bands/
        # shingle_n for the near-dup gate): band hashes are a pure function
        # of these, so they are part of the layout — reopening with
        # different values produces keys that never match committed rows
        # and silently admits near-duplicates (ADVICE r6). Optional because
        # the store itself is generator-agnostic; callers that derive band
        # keys (the gate) MUST pass them.
        self.params = dict(params) if params else None

    def _layout_extra(self) -> dict:
        return {"params": self.params}

    def _check_extra(self, stored: dict, man: dict | None) -> dict:
        """Pin the band-generation params: different generator params
        (minhash widths) produce band hashes that never match committed
        rows, so a mismatch must raise, not silently miss candidates
        (ADVICE r6)."""
        stored_params = stored.get("params")
        if self.params is not None and stored_params is None:
            # a pre-pinning layout sidecar: adopting the caller's
            # params is only safe while NO bands are committed — on a
            # populated store the committed band hashes were derived
            # with UNKNOWN params, and adopting whatever the first
            # post-upgrade caller passes would legitimize exactly the
            # drift the pin exists to catch (review r7 #3)
            if man and man["files"]:
                raise ValueError(
                    f"BandIndexStore at {self.root} holds committed bands "
                    f"but its layout predates band-param pinning — the "
                    f"generator params of the stored rows are unknowable; "
                    f"rebuild the index to pin {self.params}"
                )
            return {"params": self.params}
        if self.params is not None and stored_params != self.params:
            raise ValueError(
                f"BandIndexStore band-param mismatch at {self.root}: "
                f"stored {stored_params}, requested {self.params} — "
                f"band hashes from different generator params never "
                f"match committed rows (rebuild the index to change them)"
            )
        return {}

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
    def _is_delta(rel: str) -> bool:
        return rel.startswith("delta/")

    def _bucketed_write(self, rows: DataFrame):
        """Staged write of the bucket layout (one file per bucket).
        band_hash-sorted rows + small row groups: the point-lookup path in
        candidates() skips at ROW-GROUP granularity, so a file's row
        groups must carry tight band_hash min/max stats."""
        writer = (
            rows.repartition("bucket")
            .sortWithinPartitions("bucket", "band_hash")
            .write.partitionBy("bucket")
            .option("compression", "zstd")
            .option("parquet.block.size", str(self.BAND_ROWGROUP_BYTES))
            .mode("overwrite")
        )
        return _saving(rows, writer=writer)

    def _bucket_of(self, band_hash):
        """The bucket of a ``band_hash`` column under the current count."""
        return F.pmod(band_hash, F.lit(self.n_buckets))

    def append(self, bands) -> int:
        """Add-only commit of (id_col, band_idx, band_hash) rows, a
        DataFrame or a driver-side pyarrow Table that also carries each
        row's ``bucket`` (_bucket_of under the current count). Returns the
        number of FILES appended (0 = empty input, no commit).

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
          base (or the run-file cap) — each row is rewritten O(1)
          amortized times.
        - BUCKETED (corpus-sized appends — initial builds): straight into
          the bucket layout as before; a follow-up rebucket/compact is
          the builder's normal maintenance.

        A frame's one count() re-executes the caller's band projection —
        cheap for every caller (they all derive bands from checkpointed
        signatures) and it is what picks the physical form and is the
        row delta the commit records. A Table is written by _arrow_saving:
        by pyarrow with no job on a local root."""
        self._check_layout()
        cols = (self.id_col, "band_idx", "band_hash")
        if isinstance(bands, DataFrame):
            bucket = self._bucket_of("band_hash").alias("bucket")
            with_bucket = bands.select(*cols, bucket)
            n_in = with_bucket.count()
        else:
            with_bucket = bands.select([*cols, "bucket"])
            n_in = with_bucket.num_rows
        if not n_in:
            return 0
        rg, run = self.BAND_ROWGROUP_BYTES, n_in <= self.target_bucket_rows
        if not isinstance(with_bucket, DataFrame):
            write = self._arrow_saving(
                with_bucket,
                "delta" if run else "",
                partition_by=() if run else ("bucket",),
                sort_by=("band_hash",),
                row_group_bytes=rg,
            )
        elif run:
            writer = (
                with_bucket.coalesce(1)
                .sortWithinPartitions("band_hash")
                .write.option("compression", "zstd")
                .option("parquet.block.size", str(rg))
                .mode("overwrite")
            )
            write = _saving(with_bucket, "delta", writer)
        else:
            write = self._bucketed_write(with_bucket)
        return len(self._staged_commit(write, rows=lambda: n_in))

    def _read_files(self, files: list[str], man: dict) -> DataFrame:
        """Committed band rows (id_col, band_idx, band_hash, bucket) from
        a mixed file list of snapshot ``man``: bucketed files carry
        ``bucket`` as a partition directory, delta runs carry it as a data
        column — the two schema groups read separately and union (one
        spark.read over both would make partition discovery and the
        in-file schema disagree)."""
        cols = [self.id_col, "band_idx", "band_hash", "bucket"]
        parts = []
        bucketed = [f for f in files if not self._is_delta(f)]
        deltas = [f for f in files if self._is_delta(f)]
        if bucketed:
            parts.append(
                self._committed_parquet(bucketed, man, self.root).select(*cols)
            )
        if deltas:
            parts.append(self._committed_parquet(deltas, man).select(*cols))
        return reduce(DataFrame.unionByName, parts)

    def read(self) -> DataFrame:
        """Full committed band-row scan (id_col, band_idx, band_hash,
        bucket) — maintenance/inspection surface; lookups should go
        through candidates() (bucket-pruned)."""
        man = self._snapshot()
        if not man or not man["files"]:
            return self.spark.createDataFrame(
                [],
                f"{self.id_col} long, band_idx int, band_hash long, bucket int",
            )
        return self._read_files(list(man["files"]), man)

    def candidates(self, bands):
        """(id_new, id_stored) distinct pairs whose (band_idx, band_hash)
        matches a committed row. Empty store -> empty result. A
        driver-side pyarrow Table of band rows (as append() takes them)
        gets a Table of pairs (_candidates_table); a DataFrame gets a
        DataFrame. Either is routed with the count of the snapshot the
        lookup resolves.

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
        - JOIN (oversized probe sets, non-local roots, an unreadable
          footer): bucket-pruned scan
          of the touched buckets' committed files joined on the band key —
          the pre-r10 path, still the right plan when the probe side is
          itself corpus-sized (dedup-style self-comparisons)."""
        if not isinstance(bands, DataFrame):
            return self._candidates_table(bands)
        man = self._snapshot()
        # a null band key never equals a stored one, and count_distinct
        # below skips rows with any null column while the probe collect
        # would not — drop them so the count and the collect agree
        incoming = bands.select(
            F.col(self.id_col).alias("id_new"),
            "band_idx",
            "band_hash",
            self._bucket_of("band_hash").alias("bucket"),
        ).dropna()
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
        # delta runs are unpruned by bucket (batch-sized by construction —
        # a probe must always consult them)
        files = [
            f
            for f in man["files"]
            if self._is_delta(f) or self._part_of(f) in touched
        ]
        if not files:
            return empty
        if (
            local_root is not None
            and sum(r["n"] for r in per_bucket) <= self.CANDIDATES_PUSHDOWN_MAX
        ):
            stats = self._footer_stats(files, "band_hash", local_root, man["files"])
            # an unreadable footer cannot be planned: take the join path
            if None not in stats.values():
                probe = (
                    incoming.select("id_new", "band_idx", "band_hash", "bucket")
                    .distinct()
                    .toPandas()
                )
                return self._candidates_point(probe, stats, local_root, empty)
        stored = self._read_files(files, man)
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

    def _band_hits(self, probe, stats: dict, local_root: str) -> list:
        """Row groups of the files in footer ``stats`` that a probe row of
        ``probe`` (pandas, with its bucket) can match: a bucket file
        against its bucket's band hashes; a delta run — no bucket
        directory, batch-sized and band_hash-sorted, so its row-group
        ranges still prune — against all of them."""
        by_bucket = {
            b: sorted(set(g.tolist())) for b, g in probe.groupby("bucket")["band_hash"]
        }
        every = sorted(set(probe["band_hash"].tolist()))
        return self._row_group_hits(
            stats,
            lambda rel: every if self._is_delta(rel) else by_bucket[self._part_of(rel)],
            local_root,
        )

    def _candidates_point(
        self, probe, stats: dict, local_root: str, empty: DataFrame
    ) -> DataFrame:
        """Point-lookup execution of candidates() (see its docstring):
        driver plans (file, row-group) hits from the touched files' footer
        ``stats`` (_band_hits); executors pyarrow-read exactly those row
        groups and pandas-join them to the broadcast probe set, emitting
        pairs directly (_band_pairs)."""
        hits = self._band_hits(probe, stats, local_root)
        if not hits:
            return empty
        id_col = self.id_col
        id_type = empty.schema["id_new"].dataType.simpleString()
        probe = probe[["band_idx", "band_hash", "id_new"]]

        def scan(batches):
            for pdf in batches:
                yield from _band_pairs(zip(pdf["path"], pdf["rgs"]), probe, id_col)

        spark = self.spark
        hits_df = spark.createDataFrame(hits, "path string, rgs array<int>")
        n_slots = min(len(hits), spark.sparkContext.defaultParallelism)
        return (
            hits_df.repartition(n_slots)
            .mapInPandas(scan, schema=f"id_new {id_type}, id_stored {id_type}")
            .distinct()
        )

    def _candidates_table(self, bands):
        """candidates() of a pyarrow Table of band rows, on the driver:
        each row's bucket under the snapshot's count (pmod, as
        _bucket_of), then the touched files' cached footers plan the row
        groups and _band_pairs reads them — no Spark job. A non-local root
        or an unreadable footer takes the frame path."""
        import pandas as pd
        import pyarrow as pa

        id_type = bands.schema.field(self.id_col).type
        out = pa.schema([("id_new", id_type), ("id_stored", id_type)])
        man, local_root = self._snapshot(), self._local_root()
        if not man or not man["files"]:
            return out.empty_table()
        probe = (
            bands.select([self.id_col, "band_idx", "band_hash"])
            .rename_columns(["id_new", "band_idx", "band_hash"])
            .drop_null()
            .to_pandas()
            .drop_duplicates()
        )
        probe["bucket"] = probe["band_hash"] % self.n_buckets
        touched = set(probe["bucket"].tolist())
        files = [
            f
            for f in man["files"]
            if self._is_delta(f) or self._part_of(f) in touched
        ]
        stats = local_root and self._footer_stats(
            files, "band_hash", local_root, man["files"]
        )
        if stats is None or None in stats.values():
            return self.candidates(self.spark.createDataFrame(bands)).toArrow()
        hits = self._band_hits(probe, stats, local_root)
        probe = probe[["band_idx", "band_hash", "id_new"]]
        pairs = list(_band_pairs(hits, probe, self.id_col))
        if not pairs:
            return out.empty_table()
        return pa.Table.from_pandas(
            pd.concat(pairs).drop_duplicates(), schema=out, preserve_index=False
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
        man = self._snapshot()
        if not man or not man["files"]:
            return 0
        if drop_bands is not None:
            keyed = drop_bands.select(
                self.id_col,
                "band_idx",
                "band_hash",
                self._bucket_of("band_hash").alias("bucket"),
            )
            touched = {
                r["bucket"]
                for r in keyed.select("bucket").distinct().collect()
            }
            # a dropped row can also sit in a delta run — always include
            # them (they are bounded by the fold trigger)
            files = [
                f
                for f in man["files"]
                if self._is_delta(f) or self._part_of(f) in touched
            ]
        elif drop_keys is not None or any(self._is_delta(f) for f in man["files"]):
            # a key drop rewrites everything, and so does a plain compaction
            # while delta runs are live: a run's rows belong across the
            # buckets, so every base file must merge — the fold IS the full
            # rewrite the amortized trigger schedules
            files = list(man["files"])
        else:
            # plain compaction: only multi-file buckets need a rewrite
            groups = self._files_by_part(man["files"]).values()
            files = [f for fl in groups if len(fl) > 1 for f in fl]
        if not files:
            return 0
        stored = self._read_files(files, man)
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
            self._bucketed_write(survivors), files, op="compact", kind="band-index"
        )
        # delta runs have no bucket directory (_part_of -> None); count
        # the rewritten buckets, with a folded-runs-only rewrite as 1
        rewritten = {self._part_of(f) for f in files}
        return len(rewritten - {None}) or 1

    def maybe_rebucket(self) -> bool:
        """Growth trigger of an auto-bucketed index (_maybe_grow): without
        it a gate started on a small corpus keeps batch-1's bucket count
        while the corpus grows 1000x, so per-batch candidate reads grow
        linearly (num_bands x corpus / n_buckets) and the measured-flat
        gate claim quietly expires (VERDICT r8 #1). Returns True iff a
        rebucket was committed."""
        return self._maybe_grow()

    def maybe_fold_deltas(self, max_fraction: float = 0.02) -> bool:
        """Amortized LSM fold trigger (pairs with append()'s delta runs):
        SnapshotStore._fold_due over the band layout, with a floor of
        target_bucket_rows (a small store folds once its runs hold one
        bucket's worth of rows). The fold is compact()'s full rewrite.
        Returns True iff a fold was committed."""
        man = self._snapshot()
        files = man["files"] if man else []
        deltas = [f for f in files if self._is_delta(f)]
        base = [f for f in files if not self._is_delta(f)]
        if not self._fold_due(
            man, deltas, base, self.target_bucket_rows, max_fraction, "band_hash", self.root
        ):
            return False
        return self.compact() > 0

    def rebucket(self, n_buckets: int | None = None) -> bool:
        """Remap the committed band rows to ``n_buckets`` buckets, or to
        auto_buckets() of the exact committed row count when None
        (_remap). The rewrite also folds redelivery duplicates and
        multi-file buckets. Returns True iff the layout changed."""
        return self._remap(n_buckets)

    def _remap_rows(self, man: dict) -> DataFrame:
        return (
            self._read_files(list(man["files"]), man)
            .select(self.id_col, "band_idx", "band_hash")
            .distinct()
        )

    def _remap_writer(self, rows: DataFrame, n: int):
        return self._bucketed_write(
            rows.withColumn("bucket", F.pmod("band_hash", F.lit(n)))
        )


class DocumentStore(_HashLayoutStore):
    """Hash-sharded snapshot store for keyed corpus tables (module
    docstring). ``key_col`` must be an integral id column (the portable
    multiplicative hash is int64 arithmetic — string keys should be
    pre-hashed to an id, e.g. xxhash64, upstream).

    Shard-count modes (r9 — the third tier to get the growth leg, after
    IVF cells in r8 and band buckets earlier in r9; _HashLayoutStore):

    - ``n_shards=<int>`` (pinned, default 16): the creation-time count is
      layout forever, and the deterministic shard = training-shard
      identity holds across the store's life.
    - ``n_shards=None`` (auto): the count is derived state, from the
      exact row count every commit records in the manifest.
      ``maybe_reshard()``
      remaps the layout — a narrow re-hash of the key column, one pmod,
      one commit — once the rule asks for >= GROW_FACTOR x the current
      count. Without it each shard of an append-only store started small
      becomes corpus/16, compaction rewrites balloon, and the
      one-file-per-shard write loses all parallelism."""

    _PART, _MIN_PARTS, _MAX_PARTS = "shard", 4, 1 << 18
    _KEY_ATTR, _KIND = "key_col", ""
    key_col = _alias("_key")
    n_shards = _alias("_n")
    target_shard_rows = _alias("_target")
    maintain = _maintenance("maybe_reshard", None, "optimize")

    #: target committed rows per shard for the auto derivation — ~250k
    #: ~1 KB docs ≈ a 250 MB shard, the "one shard fits an executor
    #: write task" rule from the module docstring made a number
    TARGET_SHARD_ROWS = 250_000

    @staticmethod
    def auto_shards(n_rows: int, target_shard_rows: int = 250_000) -> int:
        """Shard count keeping expected occupancy ~target_shard_rows at
        n_rows committed docs (_auto_count); clamped to [4, 2^18]."""
        return DocumentStore._auto_count(n_rows, target_shard_rows)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "doc_id",
        n_shards: int | None = 16,
        target_shard_rows: int | None = None,
    ):
        if target_shard_rows is None:
            target_shard_rows = self.TARGET_SHARD_ROWS
        super().__init__(spark, root, key_col, n_shards, target_shard_rows)

    # -- helpers -----------------------------------------------------------
    def _shard_files(self, files: list[str], shards: set[int]) -> list[str]:
        """Manifest-level shard pruning (the corpus analogue of
        OhlcvStore._series_window_files): cut the listing driver-side so
        the merge scan is O(touched shards), not O(store)."""
        return [f for f in files if self._part_of(f) in shards]

    def _shard_write(self, rows: DataFrame, max_records_per_file: int = 0):
        """Staged write of the shard layout: one file per shard (or
        size-bounded files), rows key-sorted for row-group skipping on
        point reads."""
        writer = (
            rows.repartition("shard")
            .sortWithinPartitions(self.key_col)
            .write.partitionBy("shard")
            .option("compression", "zstd")
            .mode("overwrite")
        )
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        return _saving(rows, writer=writer)

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
        self, incoming, man: dict | None, op: str
    ) -> None:
        """Identical (name, dataType) pairs required between the
        ``incoming`` data schema and the TABLE schema of snapshot ``man``
        (the recorded one: no file is opened), before any write job — a
        NAME-only check (ADVICE r6) would let same-name/drifted-type rows
        (int vs bigint n_chars) through. The commit re-checks the staged
        files (_staged_commit). "shard" is recomputed by shard_assign and
        lives in the path, not the data."""
        if not man or not man["files"]:
            return
        stored_fields = _fields(self._group_schema(man, ""))
        incoming_fields = _fields(incoming)
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
        man = self._snapshot()
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
        live = man["files"] if man else []
        self._check_schema_against_stored(
            incoming.drop("shard").schema, man, "save_docs"
        )
        if full_refresh:
            superseded = list(live)
            ranked = incoming.withColumn("_rank", F.lit(0))
        else:
            superseded = self._shard_files(live, set(touched))
            ranked = incoming.withColumn("_rank", F.lit(0))
            if superseded:
                stored = self._committed_parquet(
                    superseded, man, self.root
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
            self._shard_write(merged),
            # a full refresh replaces whatever is live NOW (a concurrent
            # commit's files are superseded too — last refresh wins,
            # atomically)
            removed_fn=(
                self._live
                if full_refresh
                else self._same_shard_rule(superseded, set(touched), "save_docs")
            ),
        )
        return len(touched)

    def append_docs(self, df, on_existing: str = "raise") -> int:
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
        rule). Returns the number of rows appended.

        ``df`` may also be a driver-side pyarrow Table: trusted and with
        each row's ``shard`` (shard_assign under the handle's count,
        ``n_shards``) it is written by _append_table; otherwise it takes
        the frame path."""
        if on_existing not in ("raise", "skip", "trust"):
            raise ValueError(f"append_docs: unknown on_existing {on_existing!r}")
        if not isinstance(df, DataFrame):
            if on_existing == "trust" and "shard" in df.column_names:
                return self._append_table(df)
            df = self.spark.createDataFrame(df)
        man = self._snapshot()
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
        live = man["files"] if man else []
        self._check_schema_against_stored(
            incoming.drop("shard").schema, man, "append_docs"
        )
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
            self._shard_write(deduped.observe(obs, F.count(F.lit(1)).alias("n"))),
            rows=lambda: int(obs.get["n"]),
        )
        return int(obs.get["n"]) if new_files else 0

    def _append_table(self, t) -> int:
        """append_docs(on_existing="trust") of a pyarrow Table, with no
        Spark job on a local root: one key-sorted file per touched shard
        (_arrow_saving). The Table's keys must be non-null
        and distinct (the frame path's one-survivor rule needs a content
        order the driver does not compute). Its ``shard`` column was
        routed by the caller under this handle's count, so no snapshot is
        resolved here: the commit raises if the head holds another count,
        and on schema drift (_commit)."""
        import pyarrow.compute as pc

        key = self.key_col
        if t[key].null_count or len(pc.unique(t[key])) != t.num_rows:
            raise ValueError(
                f"append_docs: a Table's {key} values must be non-null and distinct"
            )
        if not t.num_rows:
            return 0
        new_files = self._staged_commit(
            self._arrow_saving(t, partition_by=("shard",), sort_by=(key,)),
            rows=lambda: t.num_rows,
        )
        return t.num_rows if new_files else 0

    def delete_docs(self, keys: DataFrame) -> int:
        """Keyed delete: rewrite the touched shards WITHOUT the given keys
        (``keys`` must carry ``key_col``). Anti-join inside the touched
        shards only; commit semantics identical to save_docs. Returns the
        number of shards rewritten."""
        man = self._snapshot()
        keyed = shard_assign(keys.select(self.key_col), self.n_shards, self.key_col)
        touched = {
            r["shard"]
            for r in keyed.select("shard").distinct().collect()
        }
        if not man or not touched:
            return 0
        superseded = self._shard_files(man["files"], touched)
        if not superseded:
            return 0
        stored = self._committed_parquet(superseded, man, self.root)
        survivors = stored.join(
            keyed.select(self.key_col), on=self.key_col, how="left_anti"
        )
        self._staged_commit(
            self._shard_write(survivors),
            removed_fn=self._same_shard_rule(superseded, touched, "delete_docs"),
        )
        return len({self._part_of(f) for f in superseded})

    # -- read path ---------------------------------------------------------
    def read(self) -> DataFrame:
        """Latest committed snapshot (all shards). Raises on an empty store
        — there is no schema to fabricate an empty frame from. Like every
        operation it adopts the snapshot's count, so ``n_shards`` is the
        stored count once the handle has read."""
        man = self._snapshot()
        if not man or not man["files"]:
            raise ValueError(f"DocumentStore at {self.root} is empty")
        return self._committed_parquet(man["files"], man, self.root)

    #: key sets at or below this take read_keys' pushed-filter path: the
    #: values collect to the driver (bounded: 8k longs) and land on the
    #: scan as an IN predicate, so parquet row-group min/max + dictionary
    #: stats skip most of each touched shard's file (shard files are
    #: written key-sorted for exactly this). Above it, the semi-join path
    #: (no driver materialization) — the measured-size gate pattern.
    READ_KEYS_PUSHDOWN_MAX = 8192

    def read_keys(self, keys):
        """Point-lookup scan: prune to the shards the requested keys hash
        to (manifest-level, driver-side), then either push the key list
        into the scan as an IN filter (small key sets — row-group
        skipping makes the read O(matching row groups), not O(touched
        shards), the r9 gate fix: at a 4.5M-doc store a 2000-key batch
        touches every shard, and the semi-join form read them WHOLE) or
        semi-join (large key sets). A pyarrow Table of keys gets a Table
        of the stored rows' data columns (_read_keys_table)."""
        if not isinstance(keys, DataFrame):
            return self._read_keys_table(keys)
        man = self._snapshot()
        if not man:
            raise ValueError(f"DocumentStore at {self.root} is empty")
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
        files = self._shard_files(man["files"], touched)
        if not files:
            return self.read().limit(0)  # store schema, zero rows
        df = self._committed_parquet(files, man, self.root)
        if small:
            return df.where(F.col(self.key_col).isin(probe))
        return df.join(keyed.select(self.key_col), on=self.key_col, how="left_semi")

    def _read_keys_table(self, keys):
        """read_keys() of a pyarrow Table of keys, on the driver: the
        keys' shards are shard_assign over a local relation, which Spark
        evaluates in place, the touched shards' cached footers plan the
        row groups whose key range can hold a key (shard files are
        key-sorted) and pyarrow reads them — no Spark job. A non-local
        root or an unreadable footer takes the frame path."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        key = self.key_col
        man, local_root = self._snapshot(), self._local_root()
        if not man or not man["files"]:
            raise ValueError(f"DocumentStore at {self.root} is empty")
        want = pc.unique(keys[key].drop_null())
        local = self.spark.createDataFrame(pa.table({key: want}))
        by_shard: dict[int, list] = {}
        for r in shard_assign(local, self.n_shards, key).collect():
            by_shard.setdefault(r["shard"], []).append(r[key])
        files = self._shard_files(man["files"], set(by_shard))
        stats = local_root and self._footer_stats(files, key, local_root, man["files"])
        if stats is None or None in stats.values():
            return self.read_keys(
                self.spark.createDataFrame(keys.select([key]))
            ).drop("shard").toArrow()
        schema = to_arrow_schema(self._group_schema(man, ""))
        want = want.cast(schema.field(key).type)
        hits = self._row_group_hits(
            stats, lambda rel: sorted(by_shard[self._part_of(rel)]), local_root
        )
        parts = [
            pq.ParquetFile(p).read_row_groups(rgs).select(schema.names).cast(schema)
            for p, rgs in hits
        ]
        got = pa.concat_tables(parts) if parts else schema.empty_table()
        return got.filter(pc.is_in(got[key], value_set=want))

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read (inherited retention rules: the trailing
        two-commit window)."""
        man = self._resolve_retained(version)
        if not man["files"]:
            raise ValueError(f"snapshot v{version} is empty")
        return self._committed_parquet(man["files"], man, self.root)

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
        groups = self._files_by_part(man["files"]).values()
        todo = [fl for fl in groups if len(fl) > 1]
        if not todo:
            return 0
        originals = sorted(f for fl in todo for f in fl)
        rows = self._committed_parquet(originals, man, self.root)
        self._staged_commit(
            self._shard_write(rows, max_records_per_file),
            originals,
            op="optimize",
            rows=lambda: 0,
        )
        return len(todo)

    def maybe_reshard(self) -> bool:
        """Growth trigger of an AUTO-sharded store grown through appends
        (_maybe_grow). Returns True iff a reshard was committed."""
        return self._maybe_grow()

    def reshard(self, n_shards: int | None = None) -> bool:
        """Remap the committed rows to ``n_shards`` shards, or to
        auto_shards() of the exact committed row count when None
        (_remap); also folds multi-file shards. NOTE: resharding changes
        the store-shard <-> training-shard identity (shard = hash mod n);
        exporters that pinned a shard count should export through
        curation.shard_assign with their own n, which is independent of
        the store layout. Returns True iff the layout changed."""
        return self._remap(n_shards)

    def _remap_rows(self, man: dict) -> DataFrame:
        return self._committed_parquet(man["files"], man, self.root).drop("shard")

    def _remap_writer(self, rows: DataFrame, n: int):
        return self._shard_write(shard_assign(rows, n, self.key_col))
