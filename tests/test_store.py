"""OhlcvStore round-trip semantics: upsert precedence, range-scan
inclusivity, coverage probe, partition delete (reference parity,
database_handler.py)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.store import OhlcvStore


def _bars(spark, start: datetime, n: int, base: float):
    rows = [
        (start + timedelta(hours=i), base + i, base + i + 1, base + i - 1, base + i, 10.0 * (i + 1))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "ts timestamp, open double, high double, low double, close double, volume double"
    )


@pytest.fixture()
def store(spark, tmp_path):
    return OhlcvStore(spark, str(tmp_path / "ohlcv"))


T0 = datetime(2024, 1, 1)


def test_save_and_read_roundtrip(store, spark):
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == 24
    assert out.select(F.min("ts")).first()[0] == T0


def test_upsert_new_wins(store, spark):
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    # overlapping re-ingest with different values: INSERT OR REPLACE parity
    store.save_data(_bars(spark, T0 + timedelta(hours=12), 24, 500.0), "BTCUSDT", "1h")
    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == 36  # 24 original + 12 new tail, 12 replaced
    row = out.where(F.col("ts") == T0 + timedelta(hours=12)).first()
    assert row["open"] == 500.0  # new value won


def test_range_scan_inclusive_bounds(store, spark):
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    out = store.get_data(
        "BTCUSDT", "1h", start=T0 + timedelta(hours=5), end=T0 + timedelta(hours=10)
    )
    assert out.count() == 6  # both endpoints inclusive (database_handler.py:330)


def test_partition_isolation_and_delete(store, spark):
    store.save_data(_bars(spark, T0, 5, 100.0), "BTCUSDT", "1h")
    store.save_data(_bars(spark, T0, 7, 1.0), "ETHUSDT", "1h")
    store.save_data(_bars(spark, T0, 3, 1.0), "BTCUSDT", "4h")
    assert store.get_data("BTCUSDT", "1h").count() == 5
    assert store.delete_data("ETHUSDT", "1h") is True
    assert store.get_data("ETHUSDT", "1h").count() == 0
    assert store.get_data("BTCUSDT", "1h").count() == 5
    assert store.delete_data("NOSUCH", "1h") is False
    info = store.get_stored_info().collect()
    assert {(r["symbol"], r["timeframe"]) for r in info} == {
        ("BTCUSDT", "1h"),
        ("BTCUSDT", "4h"),
    }


def test_export_roundtrip(store, spark, tmp_path):
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    df = store.get_data("BTCUSDT", "1h")

    pq = str(tmp_path / "out_parquet")
    store.export(df, pq, fmt="parquet")
    assert spark.read.parquet(pq).count() == 24

    csv = str(tmp_path / "out_csv")
    store.export(df, csv, fmt="csv", single_file=True)
    back = spark.read.option("header", True).option("inferSchema", True).csv(csv)
    assert back.count() == 24
    assert set(back.columns) == set(df.columns)

    with pytest.raises(ValueError):
        store.export(df, str(tmp_path / "x"), fmt="xlsx")


def test_coverage_probe(store, spark):
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    covered, rng = store.check_data_exists(
        "BTCUSDT", "1h", T0, T0 + timedelta(hours=23), now=datetime(2025, 1, 1)
    )
    assert covered and rng[0] == T0
    covered, _ = store.check_data_exists(
        "BTCUSDT", "1h", T0, T0 + timedelta(days=30), now=datetime(2025, 1, 1)
    )
    assert not covered  # requested range extends far beyond coverage
    # freshness escape: end exceeds coverage but coverage end is "now-ish"
    covered, _ = store.check_data_exists(
        "BTCUSDT", "1h", T0, T0 + timedelta(hours=25), now=T0 + timedelta(hours=24)
    )
    assert covered
    covered, _ = store.check_data_exists("NOSUCH", "1h", T0, T0, now=datetime(2025, 1, 1))
    assert not covered


def test_get_data_process_tz_independent(store, spark):
    """Range-scan bounds must not depend on the process-local timezone:
    naive datetimes are engine-convention UTC and get pinned before becoming
    literals (a naive F.lit converts via time.mktime, i.e. the process TZ)."""
    import os
    import time

    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    s, e = T0 + timedelta(hours=18), T0 + timedelta(hours=23)

    def ts_ms(df):  # epoch ms computed JVM-side: immune to collect-side tz conversion
        return [r["ms"] for r in df.select(F.unix_millis("ts").alias("ms")).collect()]

    ref = ts_ms(store.get_data("BTCUSDT", "1h", s, e))
    assert len(ref) == 6
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        shifted = ts_ms(store.get_data("BTCUSDT", "1h", s, e))
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert shifted == ref


def test_ranged_upsert_leaves_untouched_days_alone(store, spark):
    """Upserting a batch must read and rewrite ONLY the date partitions the
    batch overlaps: at 100 TB, appending a day to a multi-year series must
    not rewrite years of files."""
    import os

    store.save_data(_bars(spark, T0, 48, 100.0), "BTCUSDT", "1h")  # 2 days
    day1 = os.path.join(store.root, "symbol=BTCUSDT", "timeframe=1h", "dt=2024-01-01")
    snap = lambda: {
        f: os.path.getmtime(os.path.join(day1, f))
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    }
    before = snap()
    assert before, "expected day-1 parquet files"
    # upsert only day 2 with new values
    store.save_data(_bars(spark, T0 + timedelta(hours=24), 24, 500.0), "BTCUSDT", "1h")
    assert snap() == before, "day-1 files were rewritten by a day-2 upsert"
    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == 48
    assert out.where(F.col("ts") == T0).first()["open"] == 100.0  # day 1 intact
    row = out.where(F.col("ts") == T0 + timedelta(hours=25)).first()
    assert row["open"] == 501.0  # day 2 replaced (new wins)


def test_save_writes_one_file_per_day_partition(store, spark):
    """The write is clustered by the physical partition key: each dt
    directory holds ONE parquet file, not one per shuffle task (small-files
    discipline — a year of daily upserts must not mean 32 files/day)."""
    import os

    store.save_data(_bars(spark, T0, 48, 100.0), "BTCUSDT", "1h")  # 2 days
    base = os.path.join(store.root, "symbol=BTCUSDT", "timeframe=1h")
    for day in ("dt=2024-01-01", "dt=2024-01-02"):
        files = [
            f for f in os.listdir(os.path.join(base, day)) if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{day}: {files}"


def test_save_data_process_tz_independent(store, spark):
    """Ranged upsert must compute its merge-day window tz-free: collecting
    timestamp bounds yields naive PROCESS-local datetimes, so under a
    non-UTC tz an early-UTC-day batch would map to the PREVIOUS local day,
    the stored tail of the UTC day would never be read into the merge, and
    dynamic overwrite would replace that day's partition with only the
    incoming rows — silent deletion near midnight. Bounds are now DateType
    computed in Spark (days since epoch, tz-free)."""
    import os
    import time
    from datetime import timezone as _tz

    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    # incoming = first 5 hours of the SAME UTC day; tz-aware datetimes so
    # the DataFrame itself is tz-stable — only save_data's bounds path varies
    rows = [
        (datetime(2024, 1, 1, h, tzinfo=_tz.utc), 500.0, 501.0, 499.0, 500.0, 1.0)
        for h in range(5)
    ]
    incoming = spark.createDataFrame(
        rows,
        "ts timestamp, open double, high double, low double, close double, volume double",
    )
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        store.save_data(incoming, "BTCUSDT", "1h")
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()
    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == 24  # hours 5..23 survived the ranged merge
    assert out.where(F.col("ts") == T0).first()["open"] == 500.0  # new rows won


def test_concurrent_read_during_upsert(store, spark):
    """Snapshot commits: a reader concurrent with a stream of upserts must
    never hit a missing-file error (the transient FILE_NOT_EXIST window of
    the old dynamic-partition-overwrite write path) and every observed
    count is a committed snapshot's row count."""
    import threading

    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    errs, counts = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(store.get_data("BTCUSDT", "1h").count())
            except Exception as e:  # noqa: BLE001
                errs.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(5):
            store.save_data(_bars(spark, T0, 24, 200.0 + i), "BTCUSDT", "1h")
    finally:
        stop.set()
        t.join()
    assert not errs, f"reader failed mid-upsert: {errs[:1]}"
    assert counts and set(counts) == {24}  # always a full committed snapshot


def test_manifest_snapshot_versions_and_vacuum(store, spark):
    """Upserts append + commit, never delete in place: superseded day files
    survive exactly two further commits (reader grace), then vacuum removes
    them and prunes stale manifests."""
    day = ["symbol=BTCUSDT", "timeframe=1h"]
    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")   # v1
    assert len(store._list_data_files(*day)) == 1
    store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")   # v2 supersedes v1's file
    assert len(store._list_data_files(*day)) == 2  # old file still on disk (grace)
    store.save_data(_bars(spark, T0, 3, 300.0), "BTCUSDT", "1h")   # v3 supersedes v2's
    assert len(store._list_data_files(*day)) == 3  # v2-superseded still in grace
    store.save_data(_bars(spark, T0, 3, 400.0), "BTCUSDT", "1h")   # v4: vacuums v2.removed
    assert len(store._list_data_files(*day)) == 3  # v1's original file finally gone
    # reads reflect only the latest snapshot throughout
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 3 and all(r["open"] >= 400.0 for r in rows)
    # the manifest LOG retains the v1 checkpoint (the replay base for the
    # v2-v4 delta manifests) plus the deltas; the READABLE window is still
    # only the trailing two-commit grace
    assert store._manifest_versions() == [1, 2, 3, 4]
    assert store.snapshot_versions() == [2, 3, 4]
    # delta manifests carry only their commit's changes, not the file list
    assert "files" not in store._read_manifest(3)
    assert len(store._read_manifest(3)["added"]) == 1


def test_concurrent_different_series_saves_compose(store, spark):
    """Commit-time rebase: threads upserting DIFFERENT series on the same
    root must all land (no lost update in the manifest swap) — each thread
    through its OWN OhlcvStore instance, which exercises the per-root
    shared commit lock (ADVICE r3: per-instance locks let two instances
    race each other's read-rebase-commit sections)."""
    import threading

    errs = []

    def save(sym, base):
        try:
            own = OhlcvStore(spark, store.root)
            own.save_data(_bars(spark, T0, 12, base), sym, "1h")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=save, args=(s, b))
        for s, b in (("BTCUSDT", 100.0), ("ETHUSDT", 5.0), ("SOLUSDT", 1.0))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    for sym in ("BTCUSDT", "ETHUSDT", "SOLUSDT"):
        assert store.get_data(sym, "1h").count() == 12, sym


def test_time_travel_read_version(store, spark):
    """Manifest time travel: retained snapshot versions read back their
    exact historical file sets; versions vacuumed out of the retention
    window raise instead of returning a torn snapshot."""
    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")  # v1
    store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")  # v2
    store.save_data(_bars(spark, T0, 3, 300.0), "BTCUSDT", "1h")  # v3
    assert store.snapshot_versions() == [1, 2, 3]
    assert [r["open"] for r in store.read_version(1).orderBy("ts").collect()] == [
        100.0, 101.0, 102.0,
    ]
    assert [r["open"] for r in store.read_version(2).orderBy("ts").collect()] == [
        200.0, 201.0, 202.0,
    ]
    store.save_data(_bars(spark, T0, 3, 400.0), "BTCUSDT", "1h")  # v4 prunes v1
    assert store.snapshot_versions() == [2, 3, 4]
    assert [r["open"] for r in store.read_version(2).orderBy("ts").collect()] == [
        200.0, 201.0, 202.0,
    ]
    with pytest.raises(ValueError, match="not retained"):
        store.read_version(1)


def test_delta_log_checkpoint_cadence_and_pruning(store, spark):
    """Delta-log metadata at scale: ordinary commits write only their
    added/removed delta; every _CHECKPOINT_EVERY-th commit embeds the full
    file list, and vacuum prunes the log back to the checkpoint the
    retention window needs — the kept log stays bounded no matter how many
    commits the store has seen."""
    for i in range(10):
        store.save_data(_bars(spark, T0, 3, 100.0 * (i + 1)), "BTCUSDT", "1h")
    # v8 is a checkpoint (parquet file-list sidecar); its neighbors are deltas
    m8 = store._read_manifest(8)
    assert "checkpoint" in m8
    assert store._read_checkpoint(m8["checkpoint"]) == store._resolve(8)["files"]
    m9 = store._read_manifest(9)
    assert "checkpoint" not in m9 and "files" not in m9
    # at v10 the grace version is v8 (a checkpoint), so v1-v7 are pruned
    assert store._manifest_versions() == [8, 9, 10]
    # ...including v1's now-stale checkpoint sidecar: only v8's remains
    fs, mdir = store._fs_path("_manifests")
    sidecars = [
        st.getPath().getName()
        for st in fs.listStatus(mdir)
        if st.getPath().getName().endswith(".checkpoint.parquet")
    ]
    assert sidecars == [m8["checkpoint"]]
    assert store.snapshot_versions() == [8, 9, 10]
    # resolution across the checkpoint boundary: v9 = v8.files + v9 delta
    assert [r["open"] for r in store.read_version(9).orderBy("ts").collect()] == [
        900.0, 901.0, 902.0,
    ]
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 3 and all(r["open"] >= 1000.0 for r in rows)


def test_commit_rebase_retries_on_lost_cas(store, spark, monkeypatch):
    """A writer that loses the manifest-publish rename CAS to a concurrent
    PROCESS (HDFS semantics) must rebase onto the new head and retry, not
    fail: simulate the lost race by failing the first publish attempt
    after another series' commit lands in between."""
    from binance_data_framework_spark import store as store_mod

    store.save_data(_bars(spark, T0, 6, 100.0), "BTCUSDT", "1h")  # v1

    real_commit = store._commit
    state = {"raced": False}

    def racy_commit(added, removed, prev):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent PROCESS (separate instance = separate lock)
            # publishes v2 first...
            other = OhlcvStore(spark, store.root)
            other.save_data(_bars(spark, T0, 4, 5.0), "ETHUSDT", "1h")
            # ...and this writer's own v2 publish loses the rename CAS
            raise store_mod.ConcurrentCommit("simulated lost rename race")
        return real_commit(added, removed, prev)

    monkeypatch.setattr(store, "_commit", racy_commit)
    store.save_data(_bars(spark, T0, 6, 200.0), "BTCUSDT", "1h")
    assert state["raced"]
    latest = store._snapshot()
    assert latest["version"] == 3  # v2 = the race's commit, v3 = the rebase
    # both the raced-in series and the rebased upsert are in the snapshot
    assert store.get_data("ETHUSDT", "1h").count() == 4
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 6 and all(r["open"] >= 200.0 for r in rows)


def _legacy_day(spark, root: str, day: str, n_files: int, base: float, n: int = 24):
    """Write an externally-fragmented legacy day dir (no manifest): the
    layout _snapshot bootstraps and optimize() bin-packs."""
    start = datetime.fromisoformat(day)
    (
        _bars(spark, start, n, base)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(f"{root}/symbol=BTCUSDT/timeframe=1h/dt={day}")
    )


def test_optimize_binpacks_multifile_days(store, spark):
    """N-file day → optimize → 1 file per (series, dt); rows and values
    unchanged; the pre-compaction snapshot still time-travels (compaction
    is a manifest commit like any other, not an in-place rewrite)."""
    _legacy_day(spark, store.root, "2024-01-01", 3, 100.0)
    _legacy_day(spark, store.root, "2024-01-02", 4, 200.0)
    assert store._snapshot()["version"] == 1  # legacy bootstrap checkpoint
    assert len(store._snapshot()["files"]) == 7
    before = store.get_data("BTCUSDT", "1h").orderBy("ts").collect()

    assert store.optimize() == 2  # two day partitions compacted
    files = store._snapshot()["files"]
    assert len(files) == 2
    assert len([f for f in files if "dt=2024-01-01" in f]) == 1
    after = store.get_data("BTCUSDT", "1h").orderBy("ts").collect()
    assert after == before
    # pre-compaction snapshot still reads its exact 7-file set
    assert store.read_version(1).count() == 48
    # already-compact store: no-op, no new commit
    assert store.optimize() == 0
    assert store._snapshot()["version"] == 2


def test_optimize_aborts_on_concurrent_write_and_reclaims(store, spark, monkeypatch):
    """optimize() must never publish a compaction computed against files a
    concurrent upsert superseded (it would resurrect replaced rows): the
    commit-time conflict check raises, the compacted files are reclaimed,
    and the concurrent writer's data wins."""
    from binance_data_framework_spark import store as store_mod

    _legacy_day(spark, store.root, "2024-01-01", 3, 100.0)
    assert store._snapshot()["version"] == 1

    real_commit = store._commit
    state = {"raced": False}

    def racy_commit(added, removed, prev):
        if not state["raced"]:
            state["raced"] = True
            # an upsert replaces the day being compacted...
            OhlcvStore(spark, store.root).save_data(
                _bars(spark, datetime(2024, 1, 1), 24, 900.0), "BTCUSDT", "1h"
            )
            raise store_mod.ConcurrentCommit("simulated lost race")
        return real_commit(added, removed, prev)

    monkeypatch.setattr(store, "_commit", racy_commit)
    with pytest.raises(RuntimeError, match="optimize"):
        store.optimize()
    # upsert's data won; the store reads consistently
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 24 and all(r["open"] >= 900.0 for r in rows)
    # the aborted compaction's output is not on disk: live + grace only
    live = set(store._snapshot()["files"])
    on_disk = set(store._list_data_files())
    graced = {f for f in on_disk - live}
    assert len(live) == 1 and len(graced) == 3  # upsert file + 3 originals in grace


def test_optimize_max_records_per_file_binpacks_to_size(store, spark):
    """The size knob for days too large for one file: 24-row day at
    max_records_per_file=10 → 3 files, still one day dir, rows intact."""
    _legacy_day(spark, store.root, "2024-01-01", 2, 100.0)
    assert store.optimize(max_records_per_file=10) == 1
    day_files = [
        f for f in store._snapshot()["files"] if f.startswith("symbol=BTCUSDT/")
    ]
    assert len(day_files) == 3  # ceil(24 / 10)
    assert store.get_data("BTCUSDT", "1h").count() == 24


def test_checkpoint_parquet_roundtrips_100k_files(store, spark):
    """The scale case parquet checkpoints exist for: a synthetic 100k-file
    manifest round-trips exactly, and the sidecar is directly scannable by
    Spark (the DataFrame-native path for manifest analytics at millions of
    files, where a JSON blob would be a >100 MB driver parse)."""
    files = [
        f"symbol=S{i % 50}/timeframe=1h/dt=2024-01-{i % 28 + 1:02d}/part-{i:07d}.parquet"
        for i in range(100_000)
    ]
    name = "v000000000042-roundtrip.checkpoint.parquet"
    store._write_checkpoint(name, files)
    assert store._read_checkpoint(name) == files
    df = spark.read.parquet(f"{store.root}/_manifests/{name}")
    assert df.count() == 100_000
    assert df.columns == ["path"]


def test_legacy_json_files_checkpoint_still_resolves(store, spark):
    """Stores whose checkpoint manifests predate the parquet sidecar (JSON
    ``files`` list) keep resolving — the on-disk log format is
    forward-compatible, not a migration."""
    import json

    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")  # v1 (parquet ckpt)
    man = store._resolve(1)
    legacy = {"version": 1, "added": man["files"], "removed": [], "files": man["files"]}
    fs, mp = store._fs_path("_manifests/v000000000001.json")
    fs.delete(mp, False)
    store._write_bytes("_manifests/v000000000001.json", json.dumps(legacy).encode())
    assert store._resolve(1)["files"] == man["files"]
    store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")  # v2 delta on legacy base
    assert store.get_data("BTCUSDT", "1h").count() == 3


def test_get_data_prunes_manifest_driver_side(store, spark):
    """get_data's scan must reference ONLY the requested series' files (and
    only the in-window days when bounded) — pruned from the manifest
    listing BEFORE the Spark plan exists, so file-index work is
    O(series ∩ window) rather than O(store files) at scale."""
    start2 = T0 + timedelta(days=1)
    store.save_data(_bars(spark, T0, 30, 100.0), "BTCUSDT", "1h")  # 2 days
    store.save_data(_bars(spark, T0, 12, 5.0), "ETHUSDT", "1h")
    store.save_data(_bars(spark, T0, 12, 1.0), "BTCUSDT", "4h")

    files = store.get_data("BTCUSDT", "1h").inputFiles()
    assert files and all("symbol=BTCUSDT/timeframe=1h/" in f for f in files)
    # day-window bound: only the second day's file is even in the scan
    bounded = store.get_data(
        "BTCUSDT", "1h", start=start2, end=start2 + timedelta(hours=5)
    )
    bfiles = bounded.inputFiles()
    assert bfiles and all("dt=2024-01-02" in f for f in bfiles)
    assert bounded.count() == 6
    # correctness unchanged: full-series read still sees both days
    assert store.get_data("BTCUSDT", "1h").count() == 30


def test_get_data_aware_nonutc_bounds_select_by_instant(store, spark):
    """Bounds carrying a non-UTC tzinfo select by INSTANT: a +05:00 start
    whose wall-clock date is a day ahead of its UTC date must not prune
    the prior day's dt partition (regression: the day window was derived
    with .date() in the bound's own offset, dropping qualifying rows both
    in the manifest pruning and the dt predicate)."""
    from datetime import timezone as _tz

    store.save_data(_bars(spark, T0, 48, 100.0), "BTCUSDT", "1h")  # 2 days
    plus5 = _tz(timedelta(hours=5))
    start = datetime(2024, 1, 2, 2, 0, tzinfo=plus5)  # == 2024-01-01T21:00Z
    end = datetime(2024, 1, 2, 8, 0, tzinfo=plus5)  # == 2024-01-02T03:00Z
    rows = store.get_data("BTCUSDT", "1h", start=start, end=end).collect()
    assert len(rows) == 7  # 21:00Z .. 03:00Z inclusive
    assert min(r["ts"] for r in rows) == datetime(2024, 1, 1, 21)
    covered, _ = store.check_data_exists(
        "BTCUSDT", "1h", start, end, now=datetime(2024, 1, 2, 23, tzinfo=_tz.utc)
    )
    assert covered


def test_vacuum_failure_does_not_fail_committed_save(store, spark, monkeypatch):
    """Post-publish maintenance is best-effort: once the manifest CAS
    lands the commit is durable, and a vacuum hiccup must not surface as
    a failed save — the reclaim path would then delete data files the
    published manifest references (code-review r4 finding)."""
    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")

    def boom(version):
        raise RuntimeError("transient vacuum IO failure")

    monkeypatch.setattr(store, "_vacuum", boom)
    assert store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 3 and all(r["open"] >= 200.0 for r in rows)


def test_csv_export_import_roundtrip(store, spark, tmp_path):
    """export(fmt='csv') → import_csv into a FRESH store reproduces the
    series exactly (CSV carries no types; the importer restates them),
    including the multi-series no-args path and import idempotence."""
    from binance_data_framework_spark.sources.csv_import import import_csv

    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    store.save_data(_bars(spark, T0, 12, 5.0), "ETHUSDT", "1h")
    out = str(tmp_path / "csv_out")
    store.export(
        store._read_all().orderBy("ts"), out, fmt="csv", single_file=True
    )

    dest = OhlcvStore(spark, str(tmp_path / "dest"))
    assert import_csv(dest, out) == [("BTCUSDT", "1h"), ("ETHUSDT", "1h")]
    a = store.get_data("BTCUSDT", "1h").orderBy("ts").collect()
    b = dest.get_data("BTCUSDT", "1h").orderBy("ts").collect()
    assert a == b
    assert dest.get_data("ETHUSDT", "1h").count() == 12
    # idempotent: re-import upserts the same rows, no duplicates
    import_csv(dest, out)
    assert dest.get_data("BTCUSDT", "1h").count() == 24


def test_history_describes_commit_log(store, spark):
    """DESCRIBE HISTORY parity: one row per retained manifest with delta
    sizes, checkpoint flag, and retention readability."""
    for i in range(3):
        store.save_data(_bars(spark, T0, 3, 100.0 * (i + 1)), "BTCUSDT", "1h")
    h = {r["version"]: r for r in store.history().collect()}
    assert set(h) == {1, 2, 3}
    assert h[1]["is_checkpoint"] and not h[2]["is_checkpoint"]
    assert all(r["is_readable"] for r in h.values())
    assert h[2]["n_added"] == 1 and h[2]["n_removed"] == 1


def test_cross_process_publish_race_rebases(store, spark):
    """True cross-PROCESS CAS on plain POSIX: another OS process (no Spark —
    a bare `open()` writer, which is exactly what a foreign writer looks
    like to link(2)) publishes the next manifest version first. This
    process's save_data must LOSE the create-exclusive claim for that
    version and rebase onto the foreign commit — before r4 the POSIX
    rename-publish would have silently replaced the foreign manifest."""
    import subprocess
    import sys

    store.save_data(_bars(spark, T0, 6, 100.0), "BTCUSDT", "1h")  # v1

    foreign = (
        "import json, sys\n"
        "p = sys.argv[1] + '/_manifests/v000000000002.json'\n"
        "json.dump({'version': 2, 'added': [], 'removed': []}, open(p, 'x'))\n"
    )
    subprocess.run([sys.executable, "-c", foreign, store.root], check=True)

    store.save_data(_bars(spark, T0, 6, 200.0), "BTCUSDT", "1h")
    latest = store._snapshot()
    assert latest["version"] == 3  # v2 = foreign no-op commit, v3 = rebase
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 6 and all(r["open"] >= 200.0 for r in rows)


def test_commit_lock_shared_per_root(store, spark, tmp_path):
    """All OhlcvStore instances of one root share one commit lock; a
    different root gets its own (ADVICE r3)."""
    assert OhlcvStore(spark, store.root)._commit_lock is store._commit_lock
    other = OhlcvStore(spark, str(tmp_path / "elsewhere"))
    assert other._commit_lock is not store._commit_lock


def test_manifest_publish_is_create_exclusive(store, spark):
    """The publish CAS holds on plain POSIX local FS: publishing an
    already-committed manifest version raises ConcurrentCommit and leaves
    the winner's manifest byte-identical — closing the r3-documented
    last-writer-wins degradation of rename-based publish."""
    from binance_data_framework_spark.store import ConcurrentCommit

    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")  # v1
    before = store._read_manifest(1)
    with pytest.raises(ConcurrentCommit):
        store._publish_manifest(1, b'{"version": 1, "added": [], "removed": []}')
    assert store._read_manifest(1) == before
    # and no tmp debris is left behind in the manifest dir
    fs, mdir = store._fs_path("_manifests")
    names = [st.getPath().getName() for st in fs.listStatus(mdir)]
    assert not [n for n in names if n.startswith("_tmp-")]


def test_failed_same_series_commit_reclaims_staged_files(store, spark, monkeypatch):
    """A save that loses a same-series race must (a) raise — the merge was
    computed against files no longer live — and (b) remove the day files
    it had already placed in the live layout: no manifest references them,
    so vacuum would never reclaim them (ADVICE r3 orphan leak)."""
    from binance_data_framework_spark import store as store_mod

    store.save_data(_bars(spark, T0, 6, 100.0), "BTCUSDT", "1h")  # v1

    real_commit = store._commit
    state = {"raced": False}

    def racy_commit(added, removed, prev):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent writer lands the SAME series first...
            OhlcvStore(spark, store.root).save_data(
                _bars(spark, T0, 6, 500.0), "BTCUSDT", "1h"
            )
            # ...and this writer's publish loses the CAS
            raise store_mod.ConcurrentCommit("simulated lost race")
        return real_commit(added, removed, prev)

    monkeypatch.setattr(store, "_commit", racy_commit)
    files_after_race = set(store._list_data_files())
    with pytest.raises(RuntimeError, match="same-series"):
        store.save_data(_bars(spark, T0, 6, 200.0), "BTCUSDT", "1h")
    # the loser's staged files are gone again: on disk = v1's file (still in
    # the vacuum grace window) + the winner's file, nothing else
    assert set(store._list_data_files()) == files_after_race | set(
        store._snapshot()["files"]
    )
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 6 and all(r["open"] >= 500.0 for r in rows)


def test_vacuum_sweeps_prior_failed_grace_window(store, spark, monkeypatch):
    """A vacuum that fails (best-effort, swallowed by _commit) must not
    permanently leak its grace version's removed files: the next
    successful vacuum sweeps ALL retained manifests at or below its own
    grace boundary, so the earlier window's files are reclaimed on the
    next commit instead of leaking forever (ADVICE r4)."""
    import os

    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")  # v1
    store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")  # v2 removes v1's
    store.save_data(_bars(spark, T0, 3, 300.0), "BTCUSDT", "1h")  # v3 removes v2's

    def boom(version):
        raise RuntimeError("transient vacuum IO failure")

    monkeypatch.setattr(store, "_vacuum", boom)
    # v4's vacuum (grace = v2) fails -> v2's removed files stay on disk
    store.save_data(_bars(spark, T0, 3, 400.0), "BTCUSDT", "1h")
    leaked = store._read_manifest(2)["removed"]
    assert leaked and all(os.path.exists(f"{store.root}/{f}") for f in leaked)

    monkeypatch.undo()
    # v5's vacuum (grace = v3) must ALSO reclaim v2's leaked window
    store.save_data(_bars(spark, T0, 3, 500.0), "BTCUSDT", "1h")
    assert not any(os.path.exists(f"{store.root}/{f}") for f in leaked)
    rows = store.get_data("BTCUSDT", "1h").collect()
    assert len(rows) == 3 and all(r["open"] >= 500.0 for r in rows)


def test_save_many_single_commit_multi_series(store, spark):
    """save_many merges N series in ONE manifest commit with per-series
    ranged windows: overlapping rows take new-wins precedence, untouched
    days of other series are never rewritten, and the version advances by
    exactly one for the whole batch."""
    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    store.save_data(_bars(spark, T0, 24, 5.0), "ETHUSDT", "1h")
    v_before = store._snapshot()["version"]
    eth_files_before = {
        f for f in store._snapshot()["files"] if "symbol=ETHUSDT" in f
    }

    batch = (
        _bars(spark, T0, 6, 900.0)
        .withColumn("symbol", F.lit("BTCUSDT"))
        .unionByName(
            _bars(spark, T0, 4, 50.0).withColumn("symbol", F.lit("LTCUSDT"))
        )
        .withColumn("timeframe", F.lit("1h"))
    )
    series = store.save_many(batch)
    assert series == [("BTCUSDT", "1h"), ("LTCUSDT", "1h")]
    assert store._snapshot()["version"] == v_before + 1
    # precedence: the 6 overlapping BTC bars are replaced, the rest kept
    btc = {r["ts"]: r["open"] for r in store.get_data("BTCUSDT", "1h").collect()}
    assert len(btc) == 24
    assert btc[T0] == 900.0 and btc[T0 + timedelta(hours=6)] == 106.0
    # new series landed; untouched series' files were not rewritten
    assert store.get_data("LTCUSDT", "1h").count() == 4
    eth_files_after = {
        f for f in store._snapshot()["files"] if "symbol=ETHUSDT" in f
    }
    assert eth_files_after == eth_files_before
    assert store.get_data("ETHUSDT", "1h").count() == 24


def test_import_csv_multi_series_is_one_commit(store, spark, tmp_path):
    """Verdict r4 #4: a multi-series CSV import must cost ONE manifest
    commit (job count independent of series count), not one per series."""
    from binance_data_framework_spark.sources.csv_import import import_csv

    store.save_data(_bars(spark, T0, 24, 100.0), "BTCUSDT", "1h")
    store.save_data(_bars(spark, T0, 12, 5.0), "ETHUSDT", "1h")
    out = str(tmp_path / "csv_out")
    store.export(store._read_all().orderBy("ts"), out, fmt="csv", single_file=True)

    dest = OhlcvStore(spark, str(tmp_path / "dest"))
    assert import_csv(dest, out) == [("BTCUSDT", "1h"), ("ETHUSDT", "1h")]
    assert dest._snapshot()["version"] == 1
    assert dest.get_data("BTCUSDT", "1h").count() == 24
    assert dest.get_data("ETHUSDT", "1h").count() == 12


def test_import_csv_explicit_key_rejects_foreign_series(store, spark, tmp_path):
    """ADVICE r4: importing a multi-series file under ONE explicit
    (symbol, timeframe) must raise, not silently relabel and merge the
    other series; a single-series file whose embedded key AGREES with the
    explicit one still imports."""
    from binance_data_framework_spark.sources.csv_import import import_csv

    store.save_data(_bars(spark, T0, 4, 100.0), "BTCUSDT", "1h")
    store.save_data(_bars(spark, T0, 4, 5.0), "ETHUSDT", "1h")
    multi = str(tmp_path / "multi_csv")
    store.export(store._read_all().orderBy("ts"), multi, fmt="csv", single_file=True)

    dest = OhlcvStore(spark, str(tmp_path / "dest"))
    with pytest.raises(ValueError, match="differ from the explicit"):
        import_csv(dest, multi, symbol="BTCUSDT", timeframe="1h")
    assert dest._snapshot() is None  # nothing was written

    single = str(tmp_path / "single_csv")
    store.export(
        store._read_all().where(F.col("symbol") == "BTCUSDT").orderBy("ts"),
        single,
        fmt="csv",
        single_file=True,
    )
    assert import_csv(dest, single, symbol="BTCUSDT", timeframe="1h") == [
        ("BTCUSDT", "1h")
    ]
    assert dest.get_data("BTCUSDT", "1h").count() == 4


def test_long_reader_across_optimize_and_grace_boundary(store, spark):
    """Pins the two-commit retention contract for a LONG-RUNNING reader
    (verdict r4 #5): a scan planned at version N still completes after an
    optimize() + one more commit (its files sit inside the vacuum grace
    window), and after a SECOND post-optimize commit the pre-optimize
    files are physically reclaimed — the old plan is beyond the
    documented retention bound, while a fresh resolve reads everything.
    If scans must outlive more commits, raise retention by keeping more
    trailing manifests (store._vacuum docstring)."""
    import os

    # a fragmented legacy day (3 files) gives optimize real compaction work
    # (an upsert would rewrite the day to one file)
    _legacy_day(spark, store.root, "2024-01-01", 3, 100.0)
    v0 = store._snapshot()["version"]  # bootstrap commit
    old_files = store._snapshot()["files"]
    old_scan = store.get_data("BTCUSDT", "1h")  # plans against version v0

    assert store.optimize("BTCUSDT", "1h") >= 1  # v0+1: supersedes old files
    store.save_data(
        _bars(spark, T0 + timedelta(days=5), 3, 300.0), "BTCUSDT", "1h"
    )  # v0+2: vacuum grace covers <= v0 — pre-optimize files still live
    assert store._snapshot()["version"] == v0 + 2
    assert all(os.path.exists(f"{store.root}/{f}") for f in old_files)
    # the old scan is <= 2 commits behind: every file it planned exists
    assert old_scan.count() == 24

    store.save_data(
        _bars(spark, T0 + timedelta(days=6), 3, 400.0), "BTCUSDT", "1h"
    )  # v0+3: vacuum sweeps <= v0+1 — optimize's superseded files reclaimed
    gone = [f for f in old_files if not os.path.exists(f"{store.root}/{f}")]
    assert gone, "pre-optimize files must be reclaimed past the grace window"
    # the >2-commits-stale plan now fails fast (missing files), it does not
    # silently return partial data
    with pytest.raises(Exception, match="(?i)file|exist|found"):
        old_scan.count()
    # a fresh resolve sees the full series regardless
    assert store.get_data("BTCUSDT", "1h").count() == 30


def test_vacuum_checkpoint_sweep_reclaims_other_writers_leak(store, spark, monkeypatch):
    """A vacuum failure in ANOTHER process leaves no in-memory flag here —
    the periodic wide sweep at checkpoint commits (every
    _CHECKPOINT_EVERY-th version) still reclaims the leaked window within
    a bounded number of commits."""
    import os

    from binance_data_framework_spark.store import _CHECKPOINT_EVERY

    store.save_data(_bars(spark, T0, 3, 100.0), "BTCUSDT", "1h")  # v1
    store.save_data(_bars(spark, T0, 3, 200.0), "BTCUSDT", "1h")  # v2
    store.save_data(_bars(spark, T0, 3, 300.0), "BTCUSDT", "1h")  # v3

    def boom(version):
        raise RuntimeError("transient vacuum IO failure")

    monkeypatch.setattr(store, "_vacuum", boom)
    store.save_data(_bars(spark, T0, 3, 400.0), "BTCUSDT", "1h")  # v4, leak v2's
    leaked = store._read_manifest(2)["removed"]
    assert leaked and all(os.path.exists(f"{store.root}/{f}") for f in leaked)
    monkeypatch.undo()

    # a DIFFERENT instance (fresh process stand-in: no _vacuum_failed flag)
    # commits up to the next checkpoint version
    other = OhlcvStore(spark, store.root)
    v = store._snapshot()["version"]
    next_ckpt = ((v // _CHECKPOINT_EVERY) + 1) * _CHECKPOINT_EVERY
    day = 10
    while other._snapshot()["version"] < next_ckpt:
        other.save_data(
            _bars(spark, T0 + timedelta(days=day), 2, 500.0), "BTCUSDT", "1h"
        )
        day += 1
    assert not any(os.path.exists(f"{store.root}/{f}") for f in leaked)


def test_save_rejects_null_timestamps_and_keys(store, spark):
    """Null keys / unparseable timestamps are data errors, not silent
    drops: a null ts would write dt=__HIVE_DEFAULT_PARTITION__, which the
    day-window parser cannot prune (code-review r5)."""
    bad_ts = spark.createDataFrame(
        [(None, 1.0, 2.0, 0.5, 1.5, 10.0), (datetime(2024, 1, 1), 1.0, 2.0, 0.5, 1.5, 10.0)],
        "ts timestamp, open double, high double, low double, close double, volume double",
    )
    with pytest.raises(ValueError, match="null ts"):
        store.save_data(bad_ts, "BTCUSDT", "1h")

    batch = (
        _bars(spark, T0, 2, 100.0)
        .withColumn("symbol", F.lit(None).cast("string"))
        .withColumn("timeframe", F.lit("1h"))
    )
    with pytest.raises(ValueError, match="null symbol"):
        store.save_many(batch)
    assert store._snapshot() is None  # nothing landed


def test_schema_memo_evicts_oldest_entry_only(store, spark, monkeypatch):
    """At its 512-entry cap the committed-parquet schema memo drops only
    its OLDEST entry (ADVICE r14: a wholesale clear() made every hot store
    re-pay schema inference at once)."""
    from binance_data_framework_spark import store as store_mod

    store.save_data(_bars(spark, T0, 5, 100.0), "BTCUSDT", "1h")
    (rel,) = store._snapshot()["files"]
    dummies = [("dummy", f"file-{i}") for i in range(512)]
    monkeypatch.setattr(
        store_mod, "_PARQUET_SCHEMA_CACHE", {k: None for k in dummies}
    )
    rows = store.get_data("BTCUSDT", "1h").collect()  # one real memoized read
    memo = store_mod._PARQUET_SCHEMA_CACHE
    assert len(memo) == 512
    assert dummies[0] not in memo and dummies[1] in memo
    assert (store.root, f"{store.root}/{rel}") in memo
    assert [r["open"] for r in rows] == [100.0 + i for i in range(5)]


def _grid(spark, start: datetime, n: int, bar_s: int, holes=()):
    """n bars of ``bar_s`` seconds from ``start`` (UTC), minus the bar
    indices in each ``holes`` range; generated JVM-side."""
    i = F.col("id")
    df = spark.range(n)
    for h in holes:
        df = df.where(~i.between(h.start, h.stop - 1))
    px = F.lit(100.0) + i
    return df.select(
        F.timestamp_seconds(F.lit(int(start.timestamp())) + i * bar_s).alias("ts"),
        px.alias("open"),
        (px + 1).alias("high"),
        (px - 1).alias("low"),
        px.alias("close"),
        F.lit(1.0).alias("volume"),
    )


def test_coverage_probe_agrees_with_full_series_scan(store, spark, tmp_path):
    """check_data_exists reads only the series' first and last day files.
    It must agree with the full-series reference — meta_coverage over
    get_data(symbol, tf) plus the containment/freshness rule written out
    in Python — on the result and both bounds: requests on the boundary
    days, interior days, a day with a hole, past the frontier, through the
    freshness escape, before the first bar; a deleted series; and an
    adopted legacy layout (undated files, multi-file boundary day)."""
    from binance_data_framework_spark.operators.coverage import meta_coverage

    utc = timezone.utc
    day, hour, minute = timedelta(days=1), timedelta(hours=1), timedelta(minutes=1)
    ms = timedelta(milliseconds=1)
    t0 = datetime(2024, 1, 1, tzinfo=utc)
    # 1m: 3 days, a 30-bar hole on day 1; 1h: 6 days, day 3 missing
    store.save_data(
        _grid(spark, t0, 3 * 1440, 60, [range(1440 + 600, 1440 + 630)]), "BTCUSDT", "1m"
    )
    store.save_data(_grid(spark, t0, 6 * 24, 3600, [range(72, 96)]), "BTCUSDT", "1h")
    store.save_data(_grid(spark, t0, 48, 3600), "ETHUSDT", "1h")
    assert store.delete_data("ETHUSDT", "1h")
    # adopted pre-manifest layout: one series in undated files, one with a
    # two-file first day
    legacy = OhlcvStore(spark, str(tmp_path / "legacy"))
    for k in (0, 2):  # days 0 and 2 of BTCUSDT/1h, outside any dt= dir
        _grid(spark, t0 + k * day, 24, 3600).coalesce(1).write.mode("append").parquet(
            f"{legacy.root}/symbol=BTCUSDT/timeframe=1h"
        )
    for k in (0, 1):
        _grid(spark, t0 + k * day, 1440, 60).repartition(1 + k).write.parquet(
            f"{legacy.root}/symbol=BTCUSDT/timeframe=1m/dt={(t0 + k * day).date()}"
        )

    far = datetime(2030, 1, 1, tzinfo=utc)
    series = [  # (store, symbol, timeframe, bar, a day with a hole)
        (store, "BTCUSDT", "1m", minute, t0 + day),
        (store, "BTCUSDT", "1h", hour, t0 + 3 * day),
        (store, "ETHUSDT", "1h", hour, t0),
        (legacy, "BTCUSDT", "1h", hour, t0 + day),
        (legacy, "BTCUSDT", "1m", minute, t0 + day),
    ]
    for st, sym, tf, bar, hole in series:
        ref = meta_coverage(st.get_data(sym, tf)).select(
            "start_ts",
            "end_ts",
            F.unix_millis("start_ts").alias("a_ms"),
            F.unix_millis("end_ts").alias("b_ms"),
        ).collect()
        if not ref:
            assert sym == "ETHUSDT"  # the deleted series
            got = st.check_data_exists(sym, tf, t0, t0 + hour, now=far)
            assert got == (False, None)
            continue
        (ref,) = ref
        a = datetime.fromtimestamp(ref["a_ms"] / 1000, tz=utc)
        b = datetime.fromtimestamp(ref["b_ms"] / 1000, tz=utc)
        last_day = datetime.combine(b.date(), datetime.min.time(), tzinfo=utc)
        cases = [  # (name, start, end, now, expected covered)
            ("first day", a, a + 6 * hour, far, True),
            ("last day", last_day, b + bar - ms, far, True),
            ("interior day", a + day + hour, a + day + 5 * hour, far, True),
            ("day with a hole", hole, hole + day - ms, far, True),
            ("past the frontier", a, b + 2 * day, far, False),
            ("freshness escape", a, b + 2 * day, b + bar, True),
            ("before the first bar", a - day, a + hour, far, False),
        ]
        bar_ms = bar // ms
        for name, s, e, now, want in cases:
            covered, bounds = st.check_data_exists(sym, tf, s, e, now=now)
            rule = ref["a_ms"] <= s.timestamp() * 1000 and (
                ref["b_ms"] + bar_ms - 1 >= e.timestamp() * 1000
                or abs(now.timestamp() * 1000 - ref["b_ms"]) < 2 * bar_ms
            )
            where = f"{sym}/{tf} {name}"
            assert covered is rule is want, where
            assert bounds == (ref["start_ts"], ref["end_ts"]), where


def test_coverage_probe_runs_one_job(store, spark):
    """A warm coverage probe is one Spark job over the series' two boundary
    day files, however many series and days the store holds (no request
    DataFrame, no broadcast join, no shuffle)."""
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    _three_series_six_days(store, spark, t0)
    args = ("BBBUSDT", "1h", t0 + timedelta(days=2), t0 + timedelta(days=3))
    now = datetime(2030, 1, 1, tzinfo=timezone.utc)
    first = store.check_data_exists(*args, now=now)  # warms the schema memo
    n_jobs, again = _jobs_of(
        spark, "coverage-probe", lambda: store.check_data_exists(*args, now=now)
    )
    assert n_jobs == 1
    assert again == first and first[0] is True


def _jobs_of(spark, group: str, fn):
    """(Spark jobs ``fn()`` launched, its result), counted through a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _three_series_six_days(store, spark, t0):
    frames = [
        _grid(spark, t0, 6 * 24, 3600).select(
            "*", F.lit(sym).alias("symbol"), F.lit("1h").alias("timeframe")
        )
        for sym in ("AAAUSDT", "BBBUSDT", "CCCUSDT")
    ]
    store.save_many(frames[0].unionByName(frames[1]).unionByName(frames[2]))


def _shuffles(df) -> bool:
    """True when the physical plan of ``df`` holds an exchange."""
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def test_one_task_read_and_upsert_job_counts(store, spark):
    """A one-day window is planned as one task: on a memo-warm store of 3
    series x 6 days, collecting get_data is exactly 1 Spark job (no
    range-sort sampling job, no shuffle stage), load_incremental's gap
    planner over a stored day is 1 (no broadcast job either), and a
    one-day save_data upsert is at most 3 (its bounds agg plus one
    merge-and-write job)."""
    from binance_data_framework_spark.api import CacheOrFetchLoader

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    _three_series_six_days(store, spark, t0)
    args = ("BBBUSDT", "1h", t0 + timedelta(days=2), t0 + timedelta(days=3, milliseconds=-1))
    want = store.get_data(*args).collect()  # warms the schema memo
    n_read, rows = _jobs_of(spark, "one-day-read", lambda: store.get_data(*args).collect())
    assert n_read == 1
    assert rows == want and len(rows) == 24
    src = _RecordingSource(None)  # the day is stored: nothing to fetch
    loader = CacheOrFetchLoader(store, src)
    now = datetime(2030, 1, 1, tzinfo=timezone.utc)
    n_plan, _ = _jobs_of(spark, "gap-planner", lambda: loader.load_incremental(*args, now=now))
    assert n_plan == 1 and src.ranges == []
    upsert = _grid(spark, t0 + timedelta(days=2), 24, 3600).withColumn("close", -F.col("close"))
    n_save, _ = _jobs_of(spark, "one-day-upsert", lambda: store.save_data(upsert, "BBBUSDT", "1h"))
    assert n_save <= 3
    rows = store.get_data(*args).collect()
    assert len(rows) == 24 and all(r["close"] < 0 for r in rows)


class _RecordingSource:
    """Stands in for PagedKlineSource: serves the bars of a fixed grid that
    fall in each requested [start_ms, end_ms] and records the range."""

    def __init__(self, grid):
        self.grid = grid
        self.ranges = []

    def to_ohlcv(self, spark, symbol, timeframe, start_ms, end_ms):
        self.ranges.append((start_ms, end_ms))
        return self.grid.where(F.unix_millis("ts").between(start_ms, end_ms))


@pytest.mark.parametrize("tf, bar_s", [("1m", 60), ("1h", 3600)])
def test_one_task_and_distributed_paths_agree(spark, tmp_path, monkeypatch, tf, bar_s):
    """The one-task plan (default ONE_TASK_MAX_DAYS) and the distributed
    plan (the bound forced to 0) agree: get_data returns the same rows in
    the same order (one day, several days with holes, past the frontier,
    open start, open end); load_incremental fetches the same ranges; a
    save_data upsert over stored days (new rows win) leaves the same rows,
    one ts-sorted file per dt dir and the same manifest delta. An adopted
    legacy series in undated files takes the distributed plan under the
    default bound and agrees too."""
    import pyarrow.parquet as pq

    from binance_data_framework_spark.api import CacheOrFetchLoader

    utc = timezone.utc
    day, hour, ms = timedelta(days=1), timedelta(hours=1), timedelta(milliseconds=1)
    t0 = datetime(2024, 1, 1, tzinfo=utc)
    far = datetime(2030, 1, 1, tzinfo=utc)
    per_day = 86_400 // bar_s
    gap, n_gap = per_day + per_day // 3, max(3, per_day // 48)
    full = _grid(spark, t0, 4 * per_day, bar_s)
    # days 0-3 with a hole inside day 1 and day 2 missing
    seed = _grid(
        spark, t0, 4 * per_day, bar_s, [range(gap, gap + n_gap), range(2 * per_day, 3 * per_day)]
    )
    windows = [  # (start, end, planned as one task under the default bound)
        (t0 + day, t0 + 2 * day - ms, True),
        (t0, t0 + 4 * day - ms, True),
        (t0 + 3 * day, t0 + 6 * day, True),
        (None, t0 + day + hour, False),
        (t0 + 3 * day + hour, None, False),
    ]
    legacy = OhlcvStore(spark, str(tmp_path / "legacy"))
    for k in (0, 2):  # days 0 and 2, outside any dt= dir
        _grid(spark, t0 + k * day, per_day, bar_s).coalesce(1).write.mode("append").parquet(
            f"{legacy.root}/symbol=BTCUSDT/timeframe={tf}"
        )
    default = OhlcvStore.ONE_TASK_MAX_DAYS

    def run(bound: int) -> dict:
        monkeypatch.setattr(OhlcvStore, "ONE_TASK_MAX_DAYS", bound)
        st = OhlcvStore(spark, str(tmp_path / f"bound{bound}"))
        st.save_data(seed, "BTCUSDT", tf)
        out = {"reads": []}
        for s, e, one_task in windows:
            df = st.get_data("BTCUSDT", tf, s, e)
            assert _shuffles(df) is not (one_task and bound == default), (s, e)
            out["reads"].append(df.collect())
        legacy_day = legacy.get_data("BTCUSDT", tf, t0 + 2 * day, t0 + 3 * day - ms)
        assert _shuffles(legacy_day)  # an undated file may hold any day
        out["legacy"] = legacy_day.collect()
        src = _RecordingSource(full)
        filled = CacheOrFetchLoader(st, src).load_incremental(
            "BTCUSDT", tf, t0, t0 + 4 * day - ms, now=far
        )
        out["filled"], out["fetched"] = filled.collect(), src.ranges
        # upsert over the second half of day 0 and the first half of day 1
        new = _grid(spark, t0 + day / 2, per_day, bar_s).withColumn("close", -F.col("close"))
        st.save_data(new, "BTCUSDT", tf)
        man = st._read_manifest(st._manifest_versions()[-1])
        out["delta"] = (len(man["added"]), len(man["removed"]))
        out["rows"] = st.get_data("BTCUSDT", tf).collect()
        files = st._snapshot()["files"]
        out["dirs"] = sorted(f.rsplit("/", 1)[0] for f in files)
        for f in files:
            ts = pq.ParquetFile(f"{st.root}/{f}").read(columns=["ts"]).column("ts").to_pylist()
            assert ts == sorted(ts), f
        return out

    one, dist = run(default), run(0)
    for k in one:
        assert one[k] == dist[k], k
    assert [len(r) for r in one["reads"]] == [
        per_day - n_gap,
        3 * per_day - n_gap,
        per_day,
        per_day + 3600 // bar_s + 1,
        per_day - 3600 // bar_s,
    ]
    assert len(one["legacy"]) == per_day
    assert len(one["fetched"]) == 2 and len(one["filled"]) == 4 * per_day
    assert one["delta"] == (2, 2)
    assert len(one["dirs"]) == len(set(one["dirs"])) == 4  # one file per day
    assert sum(r["close"] < 0 for r in one["rows"]) == per_day  # new rows win
    assert len(one["rows"]) == 4 * per_day
