"""Partition layout and the maintenance step the store tiers share: each
tier's ``_part_of`` (the only parser of its partition directories), the
``SnapshotStore._files_by_part`` grouping over it, and the one
grow -> fold -> compact order behind ``maintain`` on the gate tiers."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from binance_data_framework_spark.ann_index import AnnIndexStore
from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
from binance_data_framework_spark.operators.curation import shard_assign
from binance_data_framework_spark.store import OhlcvStore, SnapshotStore
from conftest import jobs_of, set_layout_rows

#: one manifest listing holding every tier's layout files plus the files
#: each tier must leave out of its partitions
LISTING = [
    "shard=0/a.parquet",
    "shard=3/b.parquet",
    "shard=0/c.parquet",
    "bucket=1/d.parquet",
    "bucket=12/e.parquet",
    "bucket=1/f.parquet",
    "delta/part-0-run.parquet",
    "codes/variant=pq/cell=0/g.parquet",
    "codes/variant=opq/cell=10/h.parquet",
    "codes/variant=pq/cell=0/i.parquet",
    "codes_delta/part-0-run.parquet",
    "tombstones/part-0.parquet",
    "model/part-0.parquet",
    "symbol=BTCUSDT/timeframe=1h/dt=2024-01-01/j.parquet",
    "symbol=ETHUSDT/timeframe=1d/dt=2024-01-02/k.parquet",
    "symbol=BTCUSDT/timeframe=1h/dt=2024-01-01/l.parquet",
    "symbol=BTCUSDT/timeframe=1h/legacy.parquet",
    "stray.parquet",
]

DAY1 = "symbol=BTCUSDT/timeframe=1h/dt=2024-01-01"
DAY2 = "symbol=ETHUSDT/timeframe=1d/dt=2024-01-02"

EXPECTED = {
    SnapshotStore: {},
    DocumentStore: {
        0: ["shard=0/a.parquet", "shard=0/c.parquet"],
        3: ["shard=3/b.parquet"],
    },
    BandIndexStore: {
        1: ["bucket=1/d.parquet", "bucket=1/f.parquet"],
        12: ["bucket=12/e.parquet"],
    },
    AnnIndexStore: {
        ("pq", 0): [
            "codes/variant=pq/cell=0/g.parquet",
            "codes/variant=pq/cell=0/i.parquet",
        ],
        ("opq", 10): ["codes/variant=opq/cell=10/h.parquet"],
    },
    OhlcvStore: {
        DAY1: [f"{DAY1}/j.parquet", f"{DAY1}/l.parquet"],
        DAY2: [f"{DAY2}/k.parquet"],
    },
}



def test_partition_key_table_across_tiers(spark, tmp_path):
    """Every tier groups the same listing into its own partitions, in
    listing order, leaving out delta runs, tombstones, the model, undated
    legacy OHLCV files and stray root files; planning is driver-side."""
    for cls, expected in EXPECTED.items():
        st = cls(spark, str(tmp_path / cls.__name__))
        jobs, groups = jobs_of(
            spark, f"parts-{cls.__name__}", lambda: st._files_by_part(LISTING)
        )
        assert groups == expected, cls.__name__
        assert jobs == 0, cls.__name__
        assert all(
            st._part_of(f) == k for k, files in groups.items() for f in files
        ), cls.__name__
    # ANN cells are ints whatever partition-type inference does, so they
    # match a collected cell value (purge_tombstones' tombstone hit set)
    ann = AnnIndexStore(spark, str(tmp_path / "ann"))
    assert all(type(c) is int for _, c in ann._files_by_part(LISTING))
    assert ann._part_of("codes/variant=pq/cell=007/x.parquet") == ("pq", 7)


def _spy(monkeypatch, st, names) -> list[str]:
    """Record the top-level calls of ``names`` on ``st`` (a call made
    inside another spied call, e.g. the fold's own compact(), is left
    out)."""
    calls: list[str] = []
    depth = [0]
    for name in names:
        orig = getattr(st, name)

        def spied(*a, _orig=orig, _name=name, **kw):
            if not depth[0]:
                calls.append(_name)
            depth[0] += 1
            try:
                return _orig(*a, **kw)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(st, name, spied)
    return calls


def _version(st) -> int:
    man = st._snapshot()
    return man["version"] if man else 0


def _lay_down(root, part: str, files: dict[int, list[dict]]) -> None:
    """Write an externally fragmented layout, one parquet file per table
    under ``<part>=<k>/`` (the files a store adopts on first contact):
    no Spark job."""
    for k, tables in files.items():
        os.makedirs(f"{root}/{part}={k}")
        for i, cols in enumerate(tables):
            pq.write_table(pa.table(cols), f"{root}/{part}={k}/f{i}.parquet")


class _DocTier:
    """An auto DocumentStore (floor 4 shards, 1 row per shard) adopting 5
    docs: shard 0 in three files, shard 1 in two."""

    legs = ("maybe_reshard", "optimize")

    def __init__(self, spark, tmp_path):
        ids = spark.createDataFrame([(i,) for i in range(64)], "doc_id bigint")
        shard = {r["doc_id"]: r["shard"] for r in shard_assign(ids, 4).collect()}
        by_shard = {k: [i for i in range(64) if shard[i] == k] for k in (0, 1)}
        root = str(tmp_path / "docs")
        _lay_down(root, "shard", {
            k: [
                {"doc_id": [i], "text": [f"t{i}"], "quality": [0.0]}
                for i in by_shard[k][:n]
            ]
            for k, n in ((0, 3), (1, 2))
        })
        self.store = DocumentStore(spark, root, n_shards=None, target_shard_rows=1)


class _BandTier:
    """An auto BandIndexStore (floor 8 buckets, 1 row per bucket) adopting
    10 band rows: bucket 0 in three files, bucket 1 in two. A 1-row append
    is a delta run that reaches the fold floor."""

    legs = ("maybe_rebucket", "maybe_fold_deltas", "compact")

    def __init__(self, spark, tmp_path):
        root = str(tmp_path / "bands")
        _lay_down(root, "bucket", {
            k: [
                {
                    "doc_id": [h, h + 8],
                    "band_idx": pa.array([0, 0], pa.int32()),
                    "band_hash": [h, h + 8],
                }
                for h in range(k, 16 * n, 16)
            ]
            for k, n in ((0, 3), (1, 2))
        })
        self.store = BandIndexStore(spark, root, n_buckets=None, target_bucket_rows=1)
        self.delta_run = spark.createDataFrame(
            [(99, 0, 99)], "doc_id bigint, band_idx int, band_hash long"
        )


@pytest.mark.parametrize("tier", [_DocTier, _BandTier], ids=["doc", "band"])
def test_maintain_order(spark, tmp_path, monkeypatch, tier):
    """maintain(): legs at unreachable GROW_FACTOR / COMPACT_MIN_FILES
    never fire, at any corpus size; one partition at >= N files compacts
    every multi-file partition; a committed grow skips the fold and the
    compaction; a due fold skips the compaction (band); the return value
    says whether a rewrite committed."""
    t = tier(spark, tmp_path)
    st = t.store
    grow, fold, compact = t.legs[0], list(t.legs[1:-1]), t.legs[-1]
    groups = st._files_by_part(st._snapshot()["files"])
    assert sorted(len(fl) for fl in groups.values()) == [2, 3]
    v = _version(st)
    calls = _spy(monkeypatch, st, t.legs)

    def step(grow_factor, min_files, committed: bool, legs: list[str]) -> None:
        nonlocal v
        monkeypatch.setattr(type(st), "GROW_FACTOR", grow_factor)
        monkeypatch.setattr(type(st), "COMPACT_MIN_FILES", min_files)
        calls.clear()
        assert st.maintain() is committed
        assert calls == legs
        v += committed
        assert _version(st) == v

    never = float("inf")
    # the band fold has its own trigger: it runs, with nothing due
    step(never, 1 << 30, False, [grow, *fold])
    step(2.0, 4, False, [grow, *fold])
    step(2.0, 3, True, [grow, *fold, compact])
    groups = st._files_by_part(st._snapshot()["files"])
    assert sorted(len(fl) for fl in groups.values()) == [1, 1]
    # a head row count past the growth threshold; a 1-file threshold
    # makes the compaction due as well
    set_layout_rows(st, 10**4)
    v = _version(st)
    step(never, 1, False, [grow, *fold, compact])
    step(2.0, 1, True, [grow])
    if fold:
        st.append(t.delta_run)
        v = _version(st)
        step(2.0, 1, True, [grow, *fold])
        assert not any(f.startswith("delta/") for f in st._snapshot()["files"])
    step(2.0, 1, False, [grow, *fold, compact])
