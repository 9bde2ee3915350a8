"""The LSM delta-run machinery shared by the band index (``delta/``) and the
ANN code layout (``codes_delta/``): SnapshotStore._footer_stats (one footer
cache) and SnapshotStore._fold_due (one fold trigger). Every arm runs
through both tiers' public fold triggers and lookups, on the smallest
stores that reach it: the rows-fraction floor, the file-count arm, the
cached base count on a non-local root, an unreadable footer (not cached;
lookups and the trigger fall back to Spark), and cache eviction against
the live file list across subset calls."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from binance_data_framework_spark.ann_index import AnnIndexStore
from binance_data_framework_spark.docstore import BandIndexStore
from binance_data_framework_spark.store import SnapshotStore, _saving


class _Band:
    """BandIndexStore: 4 rows per id; batch-sized appends are delta runs."""

    rows_per_id = 4
    column = "band_hash"

    def __init__(self, spark, root):
        self.spark = spark
        # n_buckets pinned: target_bucket_rows is both the append's
        # delta-run bound and the fold floor, and is never re-adopted
        self.st = BandIndexStore(spark, root, n_buckets=4, target_bucket_rows=50)

    def _rows(self, ids):
        rows = [(i, b, i * 2_654_435_761 + b * 97_003) for i in ids for b in range(4)]
        return self.spark.createDataFrame(rows, "doc_id bigint, band_idx int, band_hash long")

    def write(self, ids, delta: bool):
        assert delta == (len(ids) * 4 <= self.st.target_bucket_rows)
        self.st.append(self._rows(ids))

    @staticmethod
    def is_delta(rel: str) -> bool:
        return rel.startswith("delta/")

    @staticmethod
    def is_base(rel: str) -> bool:
        return not rel.startswith("delta/")

    def fold(self, floor_ids: int, **kw) -> bool:
        self.st.target_bucket_rows = floor_ids * self.rows_per_id
        try:
            return self.st.maybe_fold_deltas(**kw)
        finally:
            self.st.target_bucket_rows = 50

    def lookup(self, ids) -> set:
        pairs = self.st.candidates(self._rows(ids)).collect()
        assert all(r["id_new"] == r["id_stored"] for r in pairs)
        return {r["id_new"] for r in pairs}


class _Ann:
    """AnnIndexStore code layout: one pq and one opq code row per id,
    committed in the shapes append() and build() write (no quantizer is
    needed to fold or probe codes)."""

    rows_per_id = 2
    column = "vec_id"

    def __init__(self, spark, root):
        self.spark = spark
        self.st = AnnIndexStore(spark, root)

    def write(self, ids, delta: bool):
        df = self.spark.createDataFrame(
            [(i, v, i % 2, 1.0, [i % 4] * 4, i) for i in ids for v in ("pq", "opq")],
            "vec_id bigint, variant string, cell int, norm double, code array<int>, "
            "chash long",
        )
        if delta:
            run = df.coalesce(1).sortWithinPartitions("variant", "cell")
            self.st._staged_commit(_saving(run, "codes_delta"))
        else:
            self.st._staged_commit(self.st._cell_write(df))

    @staticmethod
    def is_delta(rel: str) -> bool:
        return rel.startswith("codes_delta/")

    @staticmethod
    def is_base(rel: str) -> bool:
        return rel.startswith("codes/")

    def fold(self, floor_ids: int, **kw) -> bool:
        # floor = 2 * CODES_DELTA_MAX_VECTORS code rows
        self.st.CODES_DELTA_MAX_VECTORS = floor_ids
        return self.st.maybe_fold_code_deltas(**kw)

    def lookup(self, ids) -> set:
        return self.st._committed_ids_among(
            list(ids), self.st._snapshot(), masked=False
        )


@pytest.mark.parametrize("tier", [_Band, _Ann], ids=["band", "ann"])
def test_delta_run_arms(spark, tmp_path, monkeypatch, tier):
    t = tier(spark, str(tmp_path / "store"))
    st, col, k = t.st, t.column, t.rows_per_id

    def layout():
        files = st._snapshot()["files"]
        return files, [f for f in files if t.is_delta(f)], [f for f in files if t.is_base(f)]

    def cached() -> set:
        return {f for f, _ in st._footer_cache}

    t.write(range(50), delta=False)  # base: 50 ids
    t.write(range(100, 103), delta=True)  # one run: 3 ids
    files, deltas, base = layout()
    assert len(deltas) == 1 and base

    # eviction: a subset call keeps every live file's entry and evicts
    # files live in neither the call nor the manifest
    local = st._local_root()
    stats = st._footer_stats(deltas + base, col, local, files)
    assert all(s is not None and sum(g[3] for g in s) for s in stats.values())
    assert {(f, col) for f in deltas + base} <= set(st._footer_cache)
    st._footer_cache[("ghost/file.parquet", col)] = []
    st._footer_stats(deltas, col, local, files)
    assert {(f, col) for f in base} <= set(st._footer_cache)
    assert ("ghost/file.parquet", col) not in st._footer_cache

    # rows-fraction floor: runs fold once their rows reach
    # max(floor, max_fraction * base rows)
    assert t.fold(floor_ids=4) is False  # 3 ids < floor 4
    assert t.fold(floor_ids=3, max_fraction=0.5) is False  # < 0.5 x 50 ids
    assert t.fold(floor_ids=3) is True
    assert not layout()[1]

    # file-count arm: DELTA_FOLD_MAX_FILES runs fold below the row floor
    t.write([200], delta=True)
    assert not cached() <= set(layout()[0])  # superseded entries to evict
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "DELTA_FOLD_MAX_FILES", 2)
        assert t.fold(floor_ids=5) is False
        # the trigger's sweep evicted the files the fold superseded
        assert cached() <= set(layout()[0])
        m.setattr(SnapshotStore, "DELTA_FOLD_MAX_FILES", 1)
        assert t.fold(floor_ids=5) is True
    files, deltas, base = layout()
    assert not deltas

    # non-local root: the base count is cached against the base file
    # list. A poisoned count is trusted (a recount would fold); cleared,
    # the trigger recounts the base (54 ids) and folds
    with monkeypatch.context() as m:
        m.setattr(st, "_local_root", lambda: None)
        t.write(range(300, 303), delta=True)
        key = tuple(sorted(base))
        st._fold_base_rows = (key, 10**7)
        assert t.fold(floor_ids=1) is False
        st._fold_base_rows = None
        assert t.fold(floor_ids=1) is True
        assert st._fold_base_rows == (key, 54 * k)
    assert not layout()[1]

    # unreadable footer: not cached; the lookup falls back to a Spark scan
    # and the trigger to Spark counts; readable again, it is cached
    t.write(range(400, 403), delta=True)
    files, deltas, base = layout()
    real = pq.ParquetFile

    def flaky(path, *a, **kw):
        if str(path).endswith(deltas[0]):
            raise OSError("footer unreadable")
        return real(path, *a, **kw)

    assert not cached() <= set(files)
    with monkeypatch.context() as m:
        m.setattr(pq, "ParquetFile", flaky)
        assert t.lookup([5, 401, 999_999]) == {5, 401}
        # the lookup's sweep evicted the files the last fold superseded
        assert cached() <= set(files)
        stats = st._footer_stats(deltas + base, col, local, files)
        assert stats[deltas[0]] is None and None not in [stats[f] for f in base]
        assert (deltas[0], col) not in st._footer_cache
        assert t.fold(floor_ids=4) is False  # 3 ids of runs
        assert t.fold(floor_ids=3) is True
        assert (deltas[0], col) not in st._footer_cache
    # the fold superseded the run; vacuum deletes it two commits later
    assert st._footer_stats(deltas, col, local, files)[deltas[0]] is not None
    assert (deltas[0], col) in st._footer_cache
