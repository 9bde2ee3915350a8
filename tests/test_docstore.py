"""DocumentStore: snapshot-committed corpus tables on the shared
SnapshotStore protocol (docstore.py). The commit/CAS/vacuum machinery
itself is exercised in depth by test_store.py; these tests pin the
corpus-specific semantics — keyed upsert precedence, shard-bounded
rewrites, keyed delete, schema-drift and null-key guards, point lookups,
time travel, and compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
from binance_data_framework_spark.operators.curation import shard_assign


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, quality double"
    )


def test_docstore_upsert_precedence_and_roundtrip(spark, tmp_path):
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(1, "a", 0.1), (2, "b", 0.2), (3, "c", 0.3)]))
    # incoming wins on the key; untouched keys survive
    st.save_docs(_docs(spark, [(2, "B2", 0.9), (4, "d", 0.4)]))
    got = {r["doc_id"]: (r["text"], r["quality"]) for r in st.read().collect()}
    assert got == {1: ("a", 0.1), 2: ("B2", 0.9), 3: ("c", 0.3), 4: ("d", 0.4)}
    # shard column round-trips as the partition column and matches the
    # deterministic assignment the training-shard exporter uses
    exp = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(
            _docs(spark, [(i, "", 0.0) for i in (1, 2, 3, 4)]), 4
        ).collect()
    }
    assert {r["doc_id"]: r["shard"] for r in st.read().collect()} == exp


def test_docstore_upsert_rewrites_only_touched_shards(spark, tmp_path):
    root = tmp_path / "ds"
    st = DocumentStore(spark, str(root), n_shards=8)
    st.save_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(40)]))
    before = set(st._snapshot()["files"])
    # one incoming key -> exactly one shard's files may change
    st.save_docs(_docs(spark, [(7, "NEW", 1.0)]))
    after = set(st._snapshot()["files"])
    touched_shard = shard_assign(
        _docs(spark, [(7, "", 0.0)]), 8
    ).collect()[0]["shard"]
    changed = {st._shard_of(f) for f in before ^ after}
    assert changed == {touched_shard}
    assert {r["text"] for r in st.read().where("doc_id = 7").collect()} == {"NEW"}
    assert st.read().count() == 40


def test_docstore_null_key_and_schema_drift_raise(spark, tmp_path):
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    with pytest.raises(ValueError, match="null doc_id"):
        st.save_docs(_docs(spark, [(None, "x", 0.0)]))
    st.save_docs(_docs(spark, [(1, "a", 0.1)]))
    drifted = spark.createDataFrame([(2, "b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="schema drift"):
        st.save_docs(drifted)


def test_docstore_delete_and_point_lookup(spark, tmp_path):
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(10)]))
    st.delete_docs(spark.createDataFrame([(3,), (4,)], "doc_id bigint"))
    assert {r["doc_id"] for r in st.read().collect()} == set(range(10)) - {3, 4}
    hits = st.read_keys(spark.createDataFrame([(5,), (3,), (99,)], "doc_id bigint"))
    assert {r["doc_id"] for r in hits.collect()} == {5}


def test_docstore_time_travel_across_curation_runs(spark, tmp_path):
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=2)
    st.save_docs(_docs(spark, [(1, "v1", 0.1), (2, "v1", 0.1)]))
    v1 = st.snapshot_versions()[-1]
    st.save_docs(_docs(spark, [(1, "v2", 0.9)]))
    v2 = st.snapshot_versions()[-1]
    assert {r["text"] for r in st.read_version(v1).where("doc_id = 1").collect()} == {"v1"}
    assert {r["text"] for r in st.read_version(v2).where("doc_id = 1").collect()} == {"v2"}
    assert st.history().count() >= 2


def test_docstore_optimize_compacts_multifile_shards(spark, tmp_path):
    """Legacy adoption inherits whatever fragmentation the external writer
    left (the _snapshot bootstrap); optimize() must bin-pack each
    multi-file shard to one file without changing the table's contents."""
    root = tmp_path / "ds"
    import shutil

    # externally-written fragmented layout: two files in one shard dir
    sh0 = root / "shard=0"
    _docs(spark, [(0, "a", 0.0)]).coalesce(1).write.mode("overwrite").parquet(
        str(root / "_tmp_a")
    )
    _docs(spark, [(2, "b", 0.0)]).coalesce(1).write.mode("overwrite").parquet(
        str(root / "_tmp_b")
    )
    sh0.mkdir(parents=True)
    for tmp in ("_tmp_a", "_tmp_b"):
        for f in (root / tmp).iterdir():
            if f.name.endswith(".parquet"):
                f.rename(sh0 / f"{tmp.lstrip('_')}-{f.name}")
        shutil.rmtree(root / tmp)

    st = DocumentStore(spark, str(root), n_shards=1)
    assert st.read().count() == 2  # bootstrap adopted both files
    n = st.optimize()
    assert n == 1
    man = st._snapshot()
    assert len(man["files"]) == 1
    got = {r["doc_id"]: r["text"] for r in st.read().collect()}
    assert got == {0: "a", 2: "b"}


def test_docstore_concurrent_same_shard_write_detected(spark, tmp_path):
    """Two writers merging against the same shard snapshot: the second
    commit must detect its merge base is gone and raise, never silently
    lose the first writer's rows (same contract as OhlcvStore)."""
    root = str(tmp_path / "ds")
    a = DocumentStore(spark, root, n_shards=1)
    a.save_docs(_docs(spark, [(1, "base", 0.0)]))

    # simulate: writer B resolves the snapshot, then writer A commits first
    orig_snapshot = DocumentStore._snapshot
    state = {"raced": False}

    def racing_snapshot(self):
        snap = orig_snapshot(self)
        if not state["raced"] and snap and self is b:
            state["raced"] = True
            a.save_docs(_docs(spark, [(2, "a-wins", 0.0)]))
        return snap

    b = DocumentStore(spark, root, n_shards=1)
    DocumentStore._snapshot = racing_snapshot
    try:
        with pytest.raises(RuntimeError, match="concurrent same-shard"):
            b.save_docs(_docs(spark, [(3, "b-loses", 0.0)]))
    finally:
        DocumentStore._snapshot = orig_snapshot
    got = {r["doc_id"] for r in a.read().collect()}
    assert got == {1, 2}  # A's commit survived; B's aborted cleanly
    # B's reclaimed staging files must not linger in the layout
    stray = [
        f
        for f in os.listdir(root)
        if f.startswith("_staging")
    ]
    assert not stray


def test_docstore_layout_mismatch_raises(spark, tmp_path):
    """Reopening a store with a different n_shards or key_col must raise
    (code-review r6): a drifted shard count hashes keys to different
    shards, silently duplicating upserted keys and missing deletes."""
    root = str(tmp_path / "ds")
    DocumentStore(spark, root, n_shards=4).save_docs(_docs(spark, [(1, "a", 0.0)]))
    with pytest.raises(ValueError, match="layout mismatch"):
        DocumentStore(spark, root, n_shards=8).save_docs(
            _docs(spark, [(2, "b", 0.0)])
        )
    with pytest.raises(ValueError, match="layout mismatch"):
        DocumentStore(spark, root, key_col="other_id", n_shards=4).read_keys(
            spark.createDataFrame([(1,)], "other_id bigint")
        )
    # matching layout still works
    DocumentStore(spark, root, n_shards=4).save_docs(_docs(spark, [(2, "b", 0.0)]))


def test_docstore_full_refresh_drops_absent_keys(spark, tmp_path):
    """full_refresh replaces the table state in one commit: stored keys
    absent from the incoming frame are gone, history retains the old
    snapshot (code-review r6: merge-only refreshes left phantom rows when
    the corpus shrank)."""
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(1, "a", 0.0), (2, "b", 0.0), (3, "c", 0.0)]))
    v1 = st.snapshot_versions()[-1]
    st.save_docs(_docs(spark, [(1, "a2", 0.5)]), full_refresh=True)
    assert {r["doc_id"]: r["text"] for r in st.read().collect()} == {1: "a2"}
    assert {r["doc_id"] for r in st.read_version(v1).collect()} == {1, 2, 3}


def test_docstore_empty_shard_concurrent_upsert_detected(spark, tmp_path):
    """Two writers upserting the same EMPTY shard both compute
    superseded=[] — the conflict check must still fire on the ADDED files
    (code-review r6), or both commits land and the key duplicates."""
    root = str(tmp_path / "ds")
    a = DocumentStore(spark, root, n_shards=1)
    b = DocumentStore(spark, root, n_shards=1)

    orig_snapshot = DocumentStore._snapshot
    state = {"raced": False}

    def racing_snapshot(self):
        snap = orig_snapshot(self)
        if not state["raced"] and self is b:
            state["raced"] = True
            a.save_docs(_docs(spark, [(7, "a-wins", 0.0)]))
        return snap

    DocumentStore._snapshot = racing_snapshot
    try:
        with pytest.raises(RuntimeError, match="concurrent same-shard"):
            b.save_docs(_docs(spark, [(7, "b-loses", 0.0)]))
    finally:
        DocumentStore._snapshot = orig_snapshot
    rows = a.read().collect()
    assert [(r["doc_id"], r["text"]) for r in rows] == [(7, "a-wins")]


def test_docstore_type_drift_same_names_raises(spark, tmp_path):
    """Schema guard compares (name, dataType), not names alone (ADVICE
    r6): an upsert with the same column names but a drifted type must
    raise BEFORE the staging write, not surface as a parquet merge error
    after the bad commit is published."""
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(1, "a", 0.1)]))
    drifted = spark.createDataFrame(
        [(2, "b", 1)], "doc_id bigint, text string, quality int"
    )
    with pytest.raises(ValueError, match="schema drift"):
        st.save_docs(drifted)
    # and the good-typed upsert still works after the rejected one
    st.save_docs(_docs(spark, [(2, "b", 0.2)]))
    assert st.read().count() == 2


# ---------------------------------------------------------------------------
# BandIndexStore growth leg (VERDICT r8 #1): auto_buckets derivation,
# maybe_rebucket, layout adoption
# ---------------------------------------------------------------------------


def _band_rows(spark, ids, per_doc=4):
    """Deterministic synthetic band rows: per_doc (band_idx, band_hash)
    rows per doc id, hashes spread across the long range so every bucket
    count routes them broadly."""
    rows = [
        (int(i), b, int(i) * 2_654_435_761 + b * 97_003)
        for i in ids
        for b in range(per_doc)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, band_idx int, band_hash long"
    )


def test_band_index_auto_rebucket_grows_and_preserves_candidates(
    spark, tmp_path
):
    """An auto-bucketed store re-derives its bucket count at the grown
    committed size (maybe_rebucket) and the rewrite is candidate-
    invariant: the same probe bands produce the same (id_new, id_stored)
    pairs before and after, while the layout's bucket count grows and
    duplicate rows fold."""
    from binance_data_framework_spark.docstore import BandIndexStore

    st = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=None, target_bucket_rows=4
    )
    st.append(_band_rows(spark, range(6)))
    assert st.n_buckets == 8  # auto floor
    # below the 2x threshold: no rebucket (24 rows / 4 = 6 < 16)
    assert st.maybe_rebucket() is False
    probe = _band_rows(spark, [2, 3])
    before = {
        (r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()
    }
    assert before  # self-matches at minimum
    # grow past the threshold: 40 docs -> 160 rows -> ceil(160/4)=40 >= 16
    st.append(_band_rows(spark, range(6, 40)))
    st.append(_band_rows(spark, [2, 3]))  # redelivery duplicates
    assert st.maybe_rebucket() is True
    assert st.n_buckets > 8
    after = {
        (r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()
    }
    assert after >= before
    # duplicates folded by the rewrite: committed rows = 40 docs x 4
    left = spark.read.option("basePath", st.root).parquet(
        *[f"{st.root}/{f}" for f in st._snapshot()["files"]]
    )
    assert left.count() == 160
    # idempotent: a second call at the same size is a no-op
    assert st.maybe_rebucket() is False


def test_band_index_pinned_never_rebuckets_and_auto_adopts(spark, tmp_path):
    """Provenance rules: a pinned store never auto-rebuckets (the
    ANN pinned-n_centroids rule); reopening an auto store with
    n_buckets=None adopts the grown count; pinning an auto store raises;
    reopening a pinned store with None adopts the pinned count and stays
    pinned."""
    import pytest as _pytest

    from binance_data_framework_spark.docstore import BandIndexStore

    pinned = BandIndexStore(spark, str(tmp_path / "pinned"), n_buckets=4)
    pinned.append(_band_rows(spark, range(50)))
    assert pinned.maybe_rebucket() is False
    assert pinned.n_buckets == 4
    # reopen pinned with None: adopts 4, still never rebuckets
    re_p = BandIndexStore(spark, str(tmp_path / "pinned"), n_buckets=None)
    assert re_p.maybe_rebucket() is False
    assert re_p.n_buckets == 4

    auto = BandIndexStore(
        spark, str(tmp_path / "auto"), n_buckets=None, target_bucket_rows=4
    )
    auto.append(_band_rows(spark, range(40)))
    assert auto.maybe_rebucket() is True
    grown = auto.n_buckets
    assert grown > 8
    # a second handle opened with None sees the grown count
    re_a = BandIndexStore(spark, str(tmp_path / "auto"), n_buckets=None)
    re_a._check_layout()
    assert re_a.n_buckets == grown
    # pinning an auto store raises
    with _pytest.raises(ValueError, match="auto-bucketed"):
        BandIndexStore(spark, str(tmp_path / "auto"), n_buckets=8)._check_layout()


def test_band_index_stale_handle_sees_rebucket(spark, tmp_path):
    """Auto-mode handles re-read the layout sidecar per operation: a
    handle opened BEFORE a rebucket routes lookups with the NEW count
    afterwards (a stale count would prune the wrong buckets and silently
    miss candidates — the exact silent-miss class the layout pin exists
    to prevent)."""
    from binance_data_framework_spark.docstore import BandIndexStore

    a = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=None, target_bucket_rows=4
    )
    b = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=None)
    a.append(_band_rows(spark, range(3)))
    b._check_layout()  # b adopts the initial count (8)
    a.append(_band_rows(spark, range(3, 40)))
    assert a.maybe_rebucket() is True
    probe = _band_rows(spark, [1, 2])
    got = {(r["id_new"], r["id_stored"]) for r in b.candidates(probe).collect()}
    assert {(1, 1), (2, 2)} <= got
    assert b.n_buckets == a.n_buckets


def test_append_docs_add_only_semantics(spark, tmp_path):
    """append_docs (r9 — the O(batch) gate write path): add-only commit
    of new keys with no stored file rewritten; on_existing picks the
    duplicate-key enforcement (raise / skip / trust); in-batch duplicate
    keys collapse to one row (save_docs parity); schema drift and null
    keys raise."""
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(1, "a", 0.1), (2, "b", 0.2)]))
    before = set(st._snapshot()["files"])
    assert st.append_docs(_docs(spark, [(3, "c", 0.3), (4, "d", 0.4)])) == 2
    after = set(st._snapshot()["files"])
    # add-only: every pre-existing file is still live, untouched
    assert before <= after
    assert {r["doc_id"] for r in st.read().collect()} == {1, 2, 3, 4}
    # duplicate of a stored key: raise by default...
    with pytest.raises(ValueError, match="already"):
        st.append_docs(_docs(spark, [(2, "B2", 0.9), (5, "e", 0.5)]))
    # ...skip appends only the new one (first-write-wins for 2)
    assert (
        st.append_docs(
            _docs(spark, [(2, "B2", 0.9), (5, "e", 0.5)]), on_existing="skip"
        )
        == 1
    )
    got = {r["doc_id"]: r["text"] for r in st.read().collect()}
    assert got[2] == "b" and got[5] == "e"
    # the store stays scan-clean: no duplicate rows for any key
    assert st.read().count() == st.read().select("doc_id").distinct().count()
    # in-batch duplicate keys: one survivor
    assert st.append_docs(_docs(spark, [(6, "x", 0.0), (6, "y", 0.0)])) == 1
    assert st.read().where("doc_id = 6").count() == 1
    # guards
    with pytest.raises(ValueError, match="null"):
        st.append_docs(_docs(spark, [(None, "n", 0.0)]))
    with pytest.raises(ValueError, match="schema drift"):
        st.append_docs(
            spark.createDataFrame(
                [(9, "z", 1)], "doc_id bigint, text string, quality int"
            )
        )
    with pytest.raises(ValueError, match="on_existing"):
        st.append_docs(_docs(spark, [(9, "z", 0.0)]), on_existing="merge")


def test_read_keys_pushdown_matches_semijoin(spark, tmp_path):
    """read_keys' two paths (small -> pushed IN filter with row-group
    skipping; large -> semi-join) must return identical rows; the
    boundary is READ_KEYS_PUSHDOWN_MAX."""
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(i, f"t{i}", i / 100.0) for i in range(200)]))
    keys = spark.createDataFrame([(i,) for i in range(0, 200, 7)], "doc_id bigint")
    small = {
        (r["doc_id"], r["text"]) for r in st.read_keys(keys).collect()
    }
    orig = DocumentStore.READ_KEYS_PUSHDOWN_MAX
    try:
        DocumentStore.READ_KEYS_PUSHDOWN_MAX = 5  # force the semi-join path
        large = {
            (r["doc_id"], r["text"]) for r in st.read_keys(keys).collect()
        }
    finally:
        DocumentStore.READ_KEYS_PUSHDOWN_MAX = orig
    assert small == large == {(i, f"t{i}") for i in range(0, 200, 7)}
    # the pushed path really lands the IN predicate on the scan
    plan = (
        st.read_keys(keys)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "doc_id" in plan and "Join" not in plan.split("Scan")[0]


def test_docstore_auto_reshard_grows_and_preserves_reads(spark, tmp_path):
    """Auto-sharded DocumentStore (r9): the shard count is derived state
    — maybe_reshard re-runs auto_shards at the committed row count and
    remaps the layout; reads (full scan + point lookup) are identical
    before and after; pinned stores never auto-reshard; reopening with
    None adopts the grown count; pinning an auto store raises."""
    st = DocumentStore(
        spark, str(tmp_path / "auto"), n_shards=None, target_shard_rows=8
    )
    st._check_layout()
    first = st.n_shards
    assert first == 4  # auto floor
    st.append_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(20)]))
    # below 2x: ceil(20/8)=3 < 8 -> no reshard
    assert st.maybe_reshard() is False
    st.append_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(20, 80)]))
    # ceil(80/8)=10 >= 2*4 -> reshard
    assert st.maybe_reshard() is True
    assert st.n_shards > first
    assert st.read().count() == 80
    keys = spark.createDataFrame([(7,), (42,), (79,)], "doc_id bigint")
    assert {r["doc_id"] for r in st.read_keys(keys).collect()} == {7, 42, 79}
    # shard column matches the NEW assignment (scan-consistency)
    exp = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(
            _docs(spark, [(i, "", 0.0) for i in range(80)]), st.n_shards
        ).collect()
    }
    assert {r["doc_id"]: r["shard"] for r in st.read().collect()} == exp
    # idempotent at the same size
    assert st.maybe_reshard() is False

    # reopen with None adopts; pinning raises
    re_a = DocumentStore(spark, str(tmp_path / "auto"), n_shards=None)
    re_a._check_layout()
    assert re_a.n_shards == st.n_shards
    with pytest.raises(ValueError, match="auto-sharded"):
        DocumentStore(spark, str(tmp_path / "auto"), n_shards=4)._check_layout()

    # pinned store: never auto-reshards
    pin = DocumentStore(spark, str(tmp_path / "pin"), n_shards=2)
    pin.save_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(100)]))
    assert pin.maybe_reshard() is False
    assert pin.n_shards == 2


def test_gate_auto_reshards_docstore(spark, tmp_path):
    """The gate's doc_reshard_factor leg: an auto-sharded store grows its
    shard count mid-stream; dedup detection and point reads stay correct
    across the remap."""
    from binance_data_framework_spark.docstore import BandIndexStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(
        spark, str(tmp_path / "store"), n_shards=None, target_shard_rows=8
    )
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    texts = [
        f"unique body {i} with tokens alpha{i} beta{i} gamma{i} delta{i}"
        for i in range(60)
    ]
    store._check_layout()
    first = store.n_shards
    for lo in range(0, 60, 20):
        s = neardup_gate_batch(
            mk([(i, texts[i]) for i in range(lo, lo + 20)]), store, bands
        )
        assert s["saved"] == 20
    assert store.n_shards > first  # resharded mid-stream
    assert store.read().count() == 60
    # near-dup of an old doc is still caught (sig point-read across the
    # NEW shard routing)
    s = neardup_gate_batch(mk([(500, texts[3])]), store, bands)
    assert s["dropped_vs_corpus"] == 1 and s["saved"] == 0


def test_reshard_and_rebucket_detect_concurrent_writes(spark, tmp_path):
    """A layout remap races a concurrent writer: the remap resolved its
    snapshot, the writer superseded one of those files, and the remap's
    commit must RAISE (its rewrite is missing the writer's rows), never
    silently publish a layout that lost them."""
    from binance_data_framework_spark.docstore import BandIndexStore

    # doc store: B reshards while A upserts a row into a shard B read
    root = str(tmp_path / "ds")
    a = DocumentStore(spark, root, n_shards=2)
    a.save_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(10)]))
    b = DocumentStore(spark, root, n_shards=2)
    orig_publish = DocumentStore._publish_staged
    state = {"raced": False}

    def racing_publish(self, staging):
        if not state["raced"] and self is b:
            state["raced"] = True
            a.save_docs(_docs(spark, [(3, "a-wins", 9.9)]))
        return orig_publish(self, staging)

    DocumentStore._publish_staged = racing_publish
    try:
        with pytest.raises(RuntimeError, match="concurrent write during reshard"):
            b.reshard(n_shards=8)
    finally:
        DocumentStore._publish_staged = orig_publish
    # A's write survived; the store is readable and un-remapped
    got = {r["doc_id"]: r["text"] for r in a.read().collect()}
    assert got[3] == "a-wins" and len(got) == 10

    # band index: B rebuckets while A compacts a bucket B read
    broot = str(tmp_path / "bx")
    ba = BandIndexStore(spark, broot, n_buckets=2)
    rows = spark.createDataFrame(
        [(i, 0, i * 7) for i in range(10)],
        "doc_id bigint, band_idx int, band_hash long",
    )
    ba.append(rows)
    ba.append(rows)  # duplicates so compact() has something to fold
    bb = BandIndexStore(spark, broot, n_buckets=2)
    orig_bpub = BandIndexStore._publish_staged
    bstate = {"raced": False}

    def racing_bpub(self, staging):
        if not bstate["raced"] and self is bb:
            bstate["raced"] = True
            ba.compact()
        return orig_bpub(self, staging)

    BandIndexStore._publish_staged = racing_bpub
    try:
        with pytest.raises(
            RuntimeError, match="concurrent band-index write during rebucket"
        ):
            bb.rebucket(n_buckets=16)
    finally:
        BandIndexStore._publish_staged = orig_bpub
    probe = rows.limit(3)
    assert ba.candidates(probe).count() > 0  # index intact post-abort


def test_duplicate_survivor_is_partitioning_invariant(spark, tmp_path):
    """VERDICT r9 #3: among duplicate incoming keys the survivor is chosen
    by content hash, so the committed bytes are identical no matter how
    the batch was partitioned (exactly-once at the BYTE grain, not just
    the key grain). Same rows, three different physical layouts, for both
    write paths — read-back must be row-identical."""
    dup_rows = [
        (1, "alpha", 0.1),
        (1, "bravo", 0.2),
        (1, "charlie", 0.3),
        (2, "delta", 0.4),
        (2, "echo", 0.5),
        (3, "solo", 0.6),
    ]

    def layouts():
        base = _docs(spark, dup_rows)
        yield base.coalesce(1)
        yield base.repartition(7)
        # reversed input order in a single partition — row_number without a
        # real ordering would pick the other duplicate here
        yield _docs(spark, list(reversed(dup_rows))).coalesce(1)

    for write in ("save", "append"):
        seen = set()
        for i, df in enumerate(layouts()):
            st = DocumentStore(
                spark, str(tmp_path / f"{write}{i}"), n_shards=4
            )
            if write == "save":
                st.save_docs(df)
            else:
                st.append_docs(df)
            got = frozenset(
                (r["doc_id"], r["text"], r["quality"])
                for r in st.read().collect()
            )
            assert len(got) == 3  # one survivor per key
            seen.add(got)
        assert len(seen) == 1, f"{write}: survivor depends on partitioning: {seen}"
    # and save/append agree with each other on the survivor
    a = {r["doc_id"]: r["text"] for r in DocumentStore(
        spark, str(tmp_path / "save0"), n_shards=4).read().collect()}
    b = {r["doc_id"]: r["text"] for r in DocumentStore(
        spark, str(tmp_path / "append0"), n_shards=4).read().collect()}
    assert a == b


def test_candidates_point_lookup_matches_join_path(spark, tmp_path, monkeypatch):
    """VERDICT r9 #2: the point-lookup candidate path (footer-planned
    row-group reads + pandas hash join against the broadcast probe set)
    must be row-identical to the bucket-pruned join path, including on
    band rows shared between docs, duplicate committed rows (redelivery),
    and probes with no match. Both fallbacks — non-local root and
    oversized probe set — route to the join path."""
    st = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=16)
    # two appends -> multi-file buckets; id 7 redelivered (duplicate rows)
    st.append(_band_rows(spark, range(40)))
    st.append(_band_rows(spark, [7, 40, 41]))
    # probes: 5 stored ids (match), 3 novel ids (no match), plus a probe
    # sharing one band row with a stored doc via identical hash arithmetic
    probe = _band_rows(spark, [3, 7, 12, 40, 41, 900, 901, 902])
    point = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert point, "expected self-matches for the stored probe ids"
    assert {(3, 3), (7, 7), (40, 40), (41, 41)} <= point
    assert not any(a in (900, 901, 902) for a, _ in point)

    monkeypatch.setattr(BandIndexStore, "_local_root", lambda self: None)
    join = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert point == join
    monkeypatch.undo()

    monkeypatch.setattr(BandIndexStore, "CANDIDATES_PUSHDOWN_MAX", 2)
    big = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert point == big
    monkeypatch.undo()

    # compaction (sorted, small row groups) preserves lookup results
    st.compact()
    after = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert point == after


def test_null_planning_keys_change_no_lookup(spark, tmp_path, monkeypatch):
    """ADVICE docstore.py:550: a null planning key can never match a stored
    row, so read_keys and candidates drop it before their count-first
    planning agg — a probe with a null key returns exactly the rows of the
    same probe without it, on the point path and on the join path."""
    st = DocumentStore(spark, str(tmp_path / "ds"), n_shards=4)
    st.save_docs(_docs(spark, [(i, f"t{i}", 0.0) for i in range(50)]))
    keys = spark.createDataFrame([(5,), (3,), (99,)], "doc_id bigint")
    with_null = keys.unionByName(spark.createDataFrame([(None,)], "doc_id bigint"))

    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=8)
    bands.append(_band_rows(spark, range(20)))
    probe = _band_rows(spark, [3, 7, 900])
    null_probe = probe.unionByName(
        spark.createDataFrame(
            [(3, 0, None), (None, 1, 7 * 2_654_435_761 + 97_003)],
            "doc_id bigint, band_idx int, band_hash long",
        )
    )

    def lookups():
        got_keys = [
            sorted(r["doc_id"] for r in st.read_keys(k).collect())
            for k in (keys, with_null)
        ]
        got_pairs = [
            sorted((r["id_new"], r["id_stored"]) for r in bands.candidates(p).collect())
            for p in (probe, null_probe)
        ]
        return got_keys, got_pairs

    (k_plain, k_null), (c_plain, c_null) = lookups()
    assert k_plain == k_null == [3, 5]
    assert c_plain == c_null and (3, 3) in c_plain and (7, 7) in c_plain
    monkeypatch.setattr(DocumentStore, "READ_KEYS_PUSHDOWN_MAX", 0)
    monkeypatch.setattr(BandIndexStore, "CANDIDATES_PUSHDOWN_MAX", 0)
    assert lookups() == ([k_plain, k_plain], [c_plain, c_plain])


def test_candidates_point_lookup_prunes_row_groups(spark, tmp_path):
    """The footer plan must actually SKIP row groups: with band_hash-sorted
    multi-row-group files and a one-key probe, the planned hit list reads
    fewer row groups than the store holds."""
    import pyarrow.parquet as pq

    # target_bucket_rows below the append size, so the append takes the
    # BUCKETED write path (a batch-sized append becomes a delta run)
    st = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=2, target_bucket_rows=5_000
    )
    st.BAND_ROWGROUP_BYTES = 4096  # force many row groups per file
    st.append(_band_rows(spark, range(5000), per_doc=2))
    man = st._snapshot()
    local = st._local_root()
    ranges = st._footer_ranges(list(man["files"]), local)
    total_rgs = sum(len(v) for v in ranges.values())
    assert total_rgs > 8, f"fixture too small to exercise pruning ({total_rgs} rgs)"
    # sorted writes -> per-row-group min/max present and ordered
    for rel, rgs in ranges.items():
        mins = [mn for _, mn, _, _ in rgs]
        assert all(m is not None for m in mins)
        assert mins == sorted(mins)
    probe = _band_rows(spark, [123], per_doc=2)
    got = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert got == {(123, 123)}
    # replan driver-side to count hit row groups (same arithmetic as
    # _candidates_point)
    import bisect
    rows = probe.withColumn(
        "bucket", F.pmod("band_hash", F.lit(st.n_buckets))
    ).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r["band_hash"])
    hit = 0
    for rel, rgs in ranges.items():
        keys = sorted(by_bucket.get(st._bucket_of(rel), []))
        if not keys:
            continue
        for _, mn, mx, _n in rgs:
            if mn is None or bisect.bisect_left(keys, mn) < bisect.bisect_right(keys, mx):
                hit += 1
    assert hit < total_rgs / 2, f"no pruning: {hit}/{total_rgs} row groups hit"


def test_band_delta_runs_and_fold(spark, tmp_path, monkeypatch):
    """r10 LSM append tier: batch-sized appends land as ONE delta run
    (never one file per bucket — the 4.5M gate measured that linear in
    n_buckets), lookups consult runs alongside buckets on BOTH candidate
    paths, and maybe_fold_deltas merges runs into the bucket layout at
    the rows-fraction trigger, preserving lookup results exactly."""
    st = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=8, target_bucket_rows=50
    )
    st.append(_band_rows(spark, range(50)))  # 200 rows > 50 -> bucketed
    man = st._snapshot()
    assert all(not f.startswith("delta/") for f in man["files"])
    n_base_files = len(man["files"])

    assert st.append(_band_rows(spark, range(100, 106))) == 1  # 24 rows -> delta
    man = st._snapshot()
    deltas = [f for f in man["files"] if f.startswith("delta/")]
    assert len(deltas) == 1
    assert len(man["files"]) == n_base_files + 1  # no bucket file touched
    assert st.read().count() == 200 + 24

    probe = _band_rows(spark, [3, 101, 999])
    want = {(3, 3), (101, 101)}
    point = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert want <= point and not any(a == 999 for a, _ in point)
    monkeypatch.setattr(BandIndexStore, "_local_root", lambda self: None)
    join = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    monkeypatch.undo()
    assert point == join

    # below the fold floor (24 < 50): no fold
    assert st.maybe_fold_deltas() is False
    # second run pushes delta rows past the floor -> fold commits
    st.append(_band_rows(spark, range(106, 114)))  # +32 rows, total 56 >= 50
    assert st.maybe_fold_deltas() is True
    man = st._snapshot()
    assert all(not f.startswith("delta/") for f in man["files"])
    assert st.read().count() == 200 + 24 + 32
    after = {(r["id_new"], r["id_stored"]) for r in st.candidates(probe).collect()}
    assert after == point
    # nothing left to fold
    assert st.maybe_fold_deltas() is False
    # drop_bands compaction reaches rows inside a fresh delta run too
    st.append(_band_rows(spark, [500]))
    drop = _band_rows(spark, [500])
    st.compact(drop_bands=drop)
    gone = {(r["id_new"], r["id_stored"]) for r in st.candidates(drop).collect()}
    assert gone == set()


def test_footer_cache_evicts_superseded_files(spark, tmp_path):
    """Review r10 #5: a long-lived handle's footer cache must not keep
    entries for files a fold/compact/rebucket superseded — across an
    unbounded stream the cache stays O(live files)."""
    st = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=4, target_bucket_rows=5_000
    )
    st.append(_band_rows(spark, range(200)))
    st.append(_band_rows(spark, range(200, 400)))
    probe = _band_rows(spark, [3, 250])
    st.candidates(probe).count()
    before = set(st._footer_cache)
    assert before, "point path should have populated the cache"
    st.compact()  # supersedes every file it rewrote
    st.candidates(probe).count()
    live = set(st._snapshot()["files"])
    dead = set(st._footer_cache) - live
    assert not dead, f"superseded files still cached: {sorted(dead)[:3]}"
    assert set(st._footer_cache) <= live
