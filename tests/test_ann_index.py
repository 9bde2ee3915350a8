"""AnnIndexStore (ann_index.py): the persisted train-once/search-many
split. Pins build/load model round-trip identity, ensure-built idempotence,
fingerprint staleness, physical cell pruning of the code layout, and —
the core guarantee — that a search reading the persisted index returns
EXACTLY what the in-plan-trained search returns (training is
deterministic, so the persisted artifact is the same model)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.ann_index import AnnIndexStore, ensure_index
from binance_data_framework_spark.operators import similarity as S

DIM = 8
BUILD = dict(dim=DIM, n_centroids=4, m_sub=4, ksub=4)


def _emb(spark, n=60, offset=0):
    rows = [
        (
            i,
            [float(((i + offset) * 7 + j * 3) % 11) - 5.0 + 0.1 * j for j in range(DIM)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One shared committed index for the read-only tests (builds are the
    dominant cost of this module; tests that COMMIT — force rebuilds,
    staleness — use their own stores)."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann") / "idx"))
    idx = st.build(df, **BUILD)
    return st, idx, df


def test_build_load_roundtrip_and_idempotence(spark, tmp_path):
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df, **BUILD)
    assert idx.version == 1
    assert idx.n_vectors == 60 and idx.fingerprint[:2] == [60, sum(range(60))]
    assert idx.fingerprint[2] > 0  # content checksum present
    assert len(idx.centroids) == 4 and len(idx.centroids[0]) == DIM
    assert len(idx.pq_books) == 4 and len(idx.pq_books[0]) == 4
    assert len(idx.opq_rotation) == DIM

    # ensure-built: same corpus, same params -> NO new commit, same model
    again = st.build(df, **BUILD)
    assert again.version == 1
    assert again.centroids == idx.centroids and again.pq_books == idx.pq_books

    # force rebuild: new version, IDENTICAL model (deterministic training)
    forced = st.build(df, force=True, **BUILD)
    assert forced.version == 2
    assert forced.centroids == idx.centroids
    assert forced.opq_books == idx.opq_books
    assert forced.opq_rotation == idx.opq_rotation


def test_fingerprint_staleness_triggers_rebuild(spark, tmp_path):
    root = str(tmp_path / "idx")
    df = _emb(spark)
    st, idx = ensure_index(spark, df, root, **BUILD)
    assert idx.version == 1
    # same corpus: load validates and reuses
    _, idx2 = ensure_index(spark, df, root, **BUILD)
    assert idx2.version == 1
    # grown corpus: fingerprint mismatch -> stale -> rebuild commits v2
    grown = _emb(spark, n=70)
    assert st.load(validate_against=grown) is None
    _, idx3 = ensure_index(spark, grown, root, **BUILD)
    assert idx3.version == 2 and idx3.n_vectors == 70
    # regenerated corpus: SAME ids and count, different vector CONTENT —
    # the content checksum must flag it stale (code-review r6)
    regen = _emb(spark, n=70, offset=3)
    assert st.load(validate_against=regen) is None
    _, idx4 = ensure_index(spark, regen, root, **BUILD)
    assert idx4.version == 3 and idx4.fingerprint != idx3.fingerprint


def test_fingerprint_observed_equals_standalone(built):
    """VERDICT r13 #2: the observe()-computed fingerprint (_ckpt_fingerprint,
    AggregatingAccumulator path) must be VALUE-IDENTICAL to the standalone
    agg (_fingerprint) — any drift would make every first contact silently
    retrain the persisted index. The corpus exercises the decimal path
    (content_sum is a sum of decimal(38,0) casts of 31-bit hash chunks) and
    an all-rows-present id column, and the equality is checked against the
    STORED manifest fingerprint too."""
    st, idx, df = built
    standalone = st._fingerprint(df)
    _ckpt, observed, nn = st._ckpt_fingerprint(df)
    assert observed == standalone
    assert nn == standalone[0]  # no null ids in this corpus
    assert idx.fingerprint == standalone  # stored == recomputed
    # partitioning must not change the sums (order-independent roll)
    repart = df.repartition(7)
    assert st._fingerprint(repart) == standalone
    _ckpt2, observed2, _ = st._ckpt_fingerprint(repart)
    assert observed2 == standalone


def test_load_memoizes_model_until_it_changes(spark, tmp_path, monkeypatch):
    """load() keeps the parsed model per handle, keyed by the live model
    files (immutable, uuid-named): an unchanged model costs no parquet read
    and no Spark job; an append's new model is read once and carries the
    rolled-forward fingerprint; a fresh handle parses the same index,
    field by field."""
    from dataclasses import asdict

    from pyspark.sql.readwriter import DataFrameReader

    root = str(tmp_path / "idx")
    st = AnnIndexStore(spark, root)
    st.build(_emb(spark, n=40), **BUILD)
    first = st.load()

    reads = []
    orig = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    sc = spark.sparkContext
    sc.setJobGroup("ann-memo-probe", "second load")
    try:
        again = st.load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert reads == []
    assert sc.statusTracker().getJobIdsForGroup("ann-memo-probe") == []
    assert asdict(again) == asdict(first)
    monkeypatch.undo()

    delta = _emb(spark, n=50).where(F.col("vec_id") >= 40)
    st.append(delta)
    rolled = st.load()
    assert rolled.version > first.version
    assert rolled.n_vectors == 50
    assert rolled.fingerprint == st._fingerprint(_emb(spark, n=50))
    fresh = AnnIndexStore(spark, root).load()
    assert asdict(fresh) == asdict(rolled)


def test_codes_layout_and_physical_cell_pruning(built):
    st, idx, df = built
    for variant in ("pq", "opq"):
        codes = st.codes(variant)
        assert codes.count() == 60  # exactly one code per corpus vector
        assert {len(r["_code"]) for r in codes.select("_code").collect()} == {4}
    # pruned read: only the requested cell's FILES are even listed
    cells = sorted({r["_c"] for r in st.codes("pq").select("_c").distinct().collect()})
    one = st.codes("pq", cells=[cells[0]])
    assert {r["_c"] for r in one.select("_c").distinct().collect()} == {cells[0]}
    assert all(f"cell={cells[0]}" in f for f in one.inputFiles())
    with pytest.raises(ValueError, match="variant"):
        st.codes("nope")


def test_persisted_search_equals_inplan_trained_search(built):
    """The whole point of persistence: a search over the committed
    artifact is the SAME computation as the train-in-plan path — equal
    rows, not merely similar recall."""
    st, idx, df = built
    probe = F.col("vec_id") < 4

    inplan = S.topk_cosine_ivfpq(
        df, probe, k=5, dim=DIM, n_centroids=4, m_sub=4, ksub=4
    )
    persisted = S.topk_cosine_ivfpq(
        df,
        probe,
        k=5,
        dim=DIM,
        n_centroids=4,
        m_sub=4,
        ksub=4,
        centroids=idx.centroids,
        books=idx.pq_books,
        coded=st.codes("pq"),
    )
    a = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in inplan.collect()}
    b = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in persisted.collect()}
    assert a == b and len(a) > 0

    # OPQ variant likewise
    inplan_o = S.topk_cosine_ivfpq(
        df, probe, k=5, dim=DIM, n_centroids=4, m_sub=4, ksub=4, opq=True
    )
    persisted_o = S.topk_cosine_ivfpq(
        df,
        probe,
        k=5,
        dim=DIM,
        n_centroids=4,
        m_sub=4,
        ksub=4,
        centroids=idx.centroids,
        books=idx.opq_books,
        rotation=idx.opq_rotation,
        coded=st.codes("opq"),
    )
    ao = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in inplan_o.collect()}
    bo = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in persisted_o.collect()}
    assert ao == bo and len(ao) > 0


def test_coded_without_books_rejected(built):
    st, _idx, df = built
    with pytest.raises(ValueError, match="books"):
        S.topk_cosine_ivfpq(
            df, F.col("vec_id") < 2, k=3, dim=DIM, coded=st.codes("pq")
        )


def test_append_rolls_fingerprint_and_encodes_identically(spark, tmp_path):
    """The third leg of train-once: append() must (a) reuse the committed
    model untouched, (b) roll the sum-decomposable fingerprint forward so
    load(validate_against=full_corpus) still certifies freshness, and (c)
    write delta codes BIT-IDENTICAL to a fresh in-plan encode under the
    same injected model — proven by exact search-row equality."""
    root = str(tmp_path / "idx")
    base = _emb(spark, n=40)
    full = _emb(spark, n=60)
    delta = full.where(F.col("vec_id") >= 40)
    st = AnnIndexStore(spark, root)
    idx = st.build(base, **BUILD)
    idx2 = st.append(delta)

    assert idx2.n_vectors == 60 and idx2.version == idx.version + 1
    assert idx2.centroids == idx.centroids          # no retraining
    assert idx2.pq_books == idx.pq_books
    assert idx2.opq_rotation == idx.opq_rotation
    # rolled-forward fingerprint == fresh full-corpus fingerprint
    assert st.load(validate_against=full) is not None
    assert st.load(validate_against=base) is None   # base alone is stale now
    for variant in ("pq", "opq"):
        assert st.codes(variant).count() == 60

    # (c): persisted appended codes == in-plan encode under the same model
    probe = F.col("vec_id") < 4
    kw = dict(k=5, dim=DIM, n_centroids=4, m_sub=4, ksub=4)
    inplan = S.topk_cosine_ivfpq(
        full, probe, centroids=idx.centroids, books=idx.pq_books, **kw
    )
    persisted = S.topk_cosine_ivfpq(
        full,
        probe,
        centroids=idx2.centroids,
        books=idx2.pq_books,
        coded=st.codes("pq"),
        **kw,
    )
    a = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in inplan.collect()}
    b = {(r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"]) for r in persisted.collect()}
    assert a == b and len(a) > 0

    # duplicate delta ids are a hard error (they would double-encode AND
    # break the fingerprint roll-forward)
    with pytest.raises(ValueError, match="already indexed"):
        st.append(_emb(spark, n=5))
    # empty delta is a no-op (no commit)
    assert st.append(delta.where(F.col("vec_id") < 0)).version == idx2.version
    # append before any build is a usage error
    with pytest.raises(ValueError, match="build"):
        AnnIndexStore(spark, str(tmp_path / "empty")).append(delta)


def test_build_lsh_param_change_retrains(spark, tmp_path):
    """ensure-built idempotence must include the pinned LSH params
    (ADVICE r6): a build() requesting different planes/tables is a new
    model, not a cache hit on the old one."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df, lsh_planes=4, lsh_tables=6, **BUILD)
    assert idx.version == 1 and idx.lsh["n_planes"] == 4

    # same params -> cache hit, no new commit
    assert st.build(df, lsh_planes=4, lsh_tables=6, **BUILD).version == 1
    # different LSH params -> retrain + new commit with the NEW pins
    idx2 = st.build(df, lsh_planes=6, lsh_tables=4, **BUILD)
    assert idx2.version == 2
    assert idx2.lsh["n_planes"] == 6 and idx2.lsh["n_tables"] == 4


def test_delete_tombstones_masked_search_then_purge(spark, tmp_path):
    """The fourth leg (VERDICT r6 #2): delete() tombstones ids in one
    model-sized commit — searches exclude them IMMEDIATELY (masked codes),
    the fingerprint rolls down to exactly the remaining corpus, repeat
    deletes are no-ops — and purge_tombstones() physically reclaims the
    rows from only the hit cells, idempotently."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df, **BUILD)
    probe = F.col("vec_id") < 3
    # _emb's pattern has period 11 in the id, so vec 11 == vec 0: probe 0's
    # nearest non-self neighbor is id 11 at cosine 1.0 — deleting it is
    # observable in the search output
    gone = {11, 7}
    keys = spark.createDataFrame([(i,) for i in gone], "vec_id bigint")

    def search():
        return {
            r["vec_id"]
            for r in S.topk_cosine_ivfpq(
                df, probe, k=5, dim=DIM, n_centroids=4, m_sub=4, ksub=4,
                centroids=idx.centroids, books=idx.pq_books,
                coded=st.codes("pq"),
            ).collect()
        }

    # pre-delete: probe 0 finds its exact duplicate 11 (cosine 1.0)
    assert 11 in search()

    idx2 = st.delete(keys)
    assert idx2.n_vectors == 58
    assert idx2.fingerprint[0] == 58
    assert idx2.fingerprint[1] == sum(range(60)) - 11 - 7
    # masked view shrinks immediately; physical rows still present
    assert st.codes("pq").count() == 58
    assert st.codes("opq").count() == 58
    assert st.codes("pq", masked=False).count() == 60
    # tombstone-masked search: the deleted ids never appear
    hits = search()
    assert hits and not (hits & gone)
    # fingerprint certifies exactly the REMAINING corpus
    remaining = df.where(~F.col("vec_id").isin(*gone))
    assert st.load(validate_against=remaining) is not None
    assert st.load(validate_against=df) is None  # full corpus = stale

    # idempotence: re-delete and unknown ids are no-ops (no commit)
    v = st._snapshot()["version"]
    assert st.delete(keys).fingerprint == idx2.fingerprint
    assert st.delete(
        spark.createDataFrame([(12345,)], "vec_id bigint")
    ).fingerprint == idx2.fingerprint
    assert st._snapshot()["version"] == v

    # physical purge: rows reclaimed, tombstones retired, searches intact
    assert st.purge_tombstones() == 2
    assert st.tombstones() is None
    assert st.codes("pq", masked=False).count() == 58
    assert st.codes("opq", masked=False).count() == 58
    assert st.load(validate_against=remaining) is not None
    hits2 = search()
    assert hits2 == hits
    assert st.purge_tombstones() == 0  # idempotent


def test_append_purge_modes_and_readd_after_delete(spark, tmp_path):
    """append(purge=...) semantics (ADVICE r7 #3 — the old unconditional
    purge attached an O(affected-cells) rewrite to the O(delta) op):

    - "auto" (default) DEFERS the purge for a small disjoint-id tombstone
      set (masked search stays correct; tombstones survive the commit),
      but FORCES it when the delta re-adds a tombstoned id (without the
      purge the old physical row would sit next to the new one and a
      later purge's id-keyed anti-join would delete BOTH);
    - "always" purges on every append with pending tombstones;
    - "never" defers unconditionally and raises on a re-add."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df, **BUILD)
    st.delete(spark.createDataFrame([(5,)], "vec_id bigint"))
    assert st.tombstones() is not None

    # auto + disjoint delta: purge deferred — tombstone still pending, the
    # physical row for 5 still present, but masked reads exclude it and
    # the rolled fingerprint certifies exactly the stored corpus
    idx = st.append(_emb(spark, n=10, offset=100).withColumn(
        "vec_id", F.col("vec_id") + 1000
    ))
    assert st.tombstones() is not None
    assert st.codes("pq", masked=False).where(F.col("vec_id") == 5).count() == 1
    assert st.codes("pq").where(F.col("vec_id") == 5).count() == 0
    assert idx.n_vectors == 69
    expected = df.where(F.col("vec_id") != 5).unionByName(
        _emb(spark, n=10, offset=100).withColumn("vec_id", F.col("vec_id") + 1000)
    )
    assert st.load(validate_against=expected) is not None

    # never + re-add of a tombstoned id: hard error, nothing committed
    back5 = df.where(F.col("vec_id") == 5)
    with pytest.raises(ValueError, match="tombstone"):
        st.append(back5, purge="never")
    assert st.load().n_vectors == 69

    # auto + re-add: purge is FORCED first, then the clean append lands —
    # exactly one physical row for the re-added id, fingerprint covers it
    idx3 = st.append(back5)
    assert idx3.n_vectors == 70
    assert st.tombstones() is None
    assert st.codes("pq", masked=False).where(F.col("vec_id") == 5).count() == 1
    full = df.unionByName(
        _emb(spark, n=10, offset=100).withColumn("vec_id", F.col("vec_id") + 1000)
    )
    assert st.load(validate_against=full) is not None

    # always: a disjoint append still reclaims pending tombstones
    st.delete(spark.createDataFrame([(3,)], "vec_id bigint"))
    assert st.tombstones() is not None
    st.append(
        _emb(spark, n=1, offset=200).withColumn("vec_id", F.col("vec_id") + 2000),
        purge="always",
    )
    assert st.tombstones() is None
    assert st.codes("pq", masked=False).where(F.col("vec_id") == 3).count() == 0

    with pytest.raises(ValueError, match="purge mode"):
        st.append(back5, purge="sometimes")


def test_append_auto_purge_threshold(spark, tmp_path, monkeypatch):
    """auto's second trigger: a tombstone set past PURGE_APPEND_THRESHOLD
    is reclaimed even for a disjoint delta (the set is supposed to stay
    takedown-sized; past the bound, deferring forever just moves the
    rewrite to an unbounded future commit)."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df, **BUILD)
    st.delete(spark.createDataFrame([(5,), (7,)], "vec_id bigint"))
    monkeypatch.setattr(AnnIndexStore, "PURGE_APPEND_THRESHOLD", 2)
    st.append(_emb(spark, n=2, offset=50).withColumn(
        "vec_id", F.col("vec_id") + 3000
    ))
    assert st.tombstones() is None
    assert st.codes("pq", masked=False).where(
        F.col("vec_id").isin(5, 7)
    ).count() == 0


def test_append_purge_never_skips_threshold_purge(spark, tmp_path, monkeypatch):
    """purge="never" must not run the PURGE_APPEND_THRESHOLD purge either
    (ADVICE r8 #1): the threshold branch belongs to "auto" — "never" is the
    explicit-maintenance mode and exists precisely to keep the
    O(affected-cells) rewrite out of append, no matter how large the
    pending tombstone set has grown. A disjoint-id append under "never"
    with the set past the threshold must leave the tombstones pending and
    the physical rows in place."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df, **BUILD)
    st.delete(spark.createDataFrame([(5,), (7,)], "vec_id bigint"))
    monkeypatch.setattr(AnnIndexStore, "PURGE_APPEND_THRESHOLD", 2)
    st.append(
        _emb(spark, n=2, offset=50).withColumn(
            "vec_id", F.col("vec_id") + 3000
        ),
        purge="never",
    )
    # tombstones still pending, physical rows still present (masked only)
    tomb = st.tombstones()
    assert tomb is not None and tomb.count() == 2
    assert (
        st.codes("pq", masked=False).where(F.col("vec_id").isin(5, 7)).count()
        == 2
    )
    assert st.codes("pq").where(F.col("vec_id").isin(5, 7)).count() == 0


def test_purge_is_partition_inference_config_independent(spark, tmp_path):
    """purge_tombstones matches collected (variant, cell) values against
    path-parsed ones; with partition-column type inference DISABLED the
    collected cell is a string, and an unnormalized match would retire
    the tombstone files without rewriting any code rows — physically
    resurrecting deleted vectors in masked search (ADVICE r7 #1)."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df, **BUILD)
    st.delete(spark.createDataFrame([(11,)], "vec_id bigint"))
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert st.purge_tombstones() == 1
    finally:
        spark.conf.set(key, old)
    assert st.tombstones() is None
    # the physical row is GONE — with the type-blind match it would survive
    assert st.codes("pq", masked=False).where(F.col("vec_id") == 11).count() == 0
    assert st.codes("pq", masked=False).count() == 59


def test_compact_codes_folds_append_fragments(spark, tmp_path, monkeypatch):
    """compact_codes: BULK appends (over the delta threshold) fragment
    each touched cell into one file per append, micro-batch appends land
    as ONE delta run (r10 LSM tier); compaction folds both back to one
    file per (variant, cell) WITHOUT changing any row — counts, search
    results, pending tombstones, and the fingerprint all survive
    byte-identical. Idempotent second call."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df.where(F.col("vec_id") < 30), **BUILD)
    # bulk regime: force the bucketed per-cell write
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 0)
    st.append(df.where((F.col("vec_id") >= 30) & (F.col("vec_id") < 45)))
    monkeypatch.undo()
    # micro-batch regime: one delta run
    st.append(df.where(F.col("vec_id") >= 45))
    st.delete(spark.createDataFrame([(7,)], "vec_id bigint"))  # pending tomb

    man = st._snapshot()
    per_cell: dict[tuple, int] = {}
    for f in man["files"]:
        if f.startswith("codes/"):
            parts = f.split("/")
            per_cell[(parts[1], parts[2])] = per_cell.get((parts[1], parts[2]), 0) + 1
    assert max(per_cell.values()) >= 2  # fragmented by the bucketed append
    deltas = [f for f in man["files"] if f.startswith("codes_delta/")]
    assert len(deltas) == 1  # the micro-batch append is ONE run file

    def search():
        return {
            (r["probe_id"], r["vec_id"], round(r["cosine"], 9))
            for r in S.topk_cosine_ivfpq(
                df, F.col("vec_id") < 3, k=5, dim=DIM, n_centroids=4,
                m_sub=4, ksub=4, centroids=idx.centroids,
                books=idx.pq_books, coded=st.codes("pq"),
            ).collect()
        }

    before = search()
    n_masked = st.codes("pq").count()
    n_phys = st.codes("pq", masked=False).count()
    fp = st.load().fingerprint

    # min_files alone must NOT touch the delta run (the O(fragmented
    # cells) contract, review r10 round 2 #1) — the run survives and the
    # fragmented cell folds only under fold_deltas=True
    n = st.compact_codes(fold_deltas=True)
    assert n > 0
    man2 = st._snapshot()
    per_cell2: dict[tuple, int] = {}
    for f in man2["files"]:
        if f.startswith("codes/"):
            parts = f.split("/")
            per_cell2[(parts[1], parts[2])] = per_cell2.get((parts[1], parts[2]), 0) + 1
    assert max(per_cell2.values()) == 1  # one file per cell now
    assert not any(f.startswith("codes_delta/") for f in man2["files"])

    assert st.codes("pq").count() == n_masked
    assert st.codes("pq", masked=False).count() == n_phys
    assert st.load().fingerprint == fp
    assert search() == before
    # pending tombstone untouched: purge still reclaims it afterwards
    assert st.tombstones() is not None
    assert st.purge_tombstones() == 1
    # idempotent
    assert st.compact_codes() == 0
    # a fresh delta run with single-file cells: the default (min_files
    # contract) must return 0 AND leave the run alone — only fold_deltas
    # may trigger the full-layout rewrite (review r10 round 2 #1)
    st.append(_emb(spark, n=70).where(F.col("vec_id") >= 60))
    assert st.compact_codes() == 0
    assert any(
        f.startswith("codes_delta/") for f in st._snapshot()["files"]
    )


def test_maybe_rebuild_rederives_cells_on_grown_corpus(spark, tmp_path):
    """maybe_rebuild (ADVICE r7 #4): an auto-sized index keeps batch-1's
    cell count through every append; once the auto rule at the CURRENT
    committed size asks for >= grow_factor x the committed cells, the
    index force-retrains over the full corpus — new cell count, quantizer
    trained on the current distribution, fingerprint fresh. Pinned-cell
    indexes never auto-rebuild."""
    root = str(tmp_path / "idx")
    st = AnnIndexStore(spark, root)
    first = _emb(spark, n=20)
    idx = st.build(first, dim=DIM, m_sub=4, ksub=4, target_cell=2)
    # auto_centroids(20, 2) = max(16, ceil(20/2)) = 16 (the floor clamp)
    assert idx.auto_cells and idx.n_centroids == 16 and idx.target_cell == 2

    # small growth: ideal = max(16, ceil(30/2)) = 16 < 2x16 -> no rebuild
    st.append(_emb(spark, n=30).where(F.col("vec_id") >= 20))
    full30 = _emb(spark, n=30)
    assert st.maybe_rebuild(full30) is False
    assert st.load().n_centroids == 16

    # grown past the factor: ideal = ceil(70/2) = 35 >= 2x16 -> rebuild
    st.append(_emb(spark, n=70).where(F.col("vec_id") >= 30))
    full70 = _emb(spark, n=70)
    assert st.maybe_rebuild(full70) is True
    idx2 = st.load()
    assert idx2.n_centroids == 35 and idx2.auto_cells
    assert idx2.n_vectors == 70
    assert st.load(validate_against=full70) is not None
    # search over the rebuilt index still finds exact duplicates (id 11
    # duplicates id 0 under _emb's period-11 pattern)
    hits = {
        r["vec_id"]
        for r in S.topk_cosine_ivfpq(
            full70, F.col("vec_id") < 1, k=5, dim=DIM,
            n_centroids=idx2.n_centroids, m_sub=4, ksub=4,
            centroids=idx2.centroids, books=idx2.pq_books,
            coded=st.codes("pq"), nprobe=idx2.n_centroids,
        ).collect()
    }
    assert hits and 11 in hits

    # pinned index: never auto-rebuilds
    st2 = AnnIndexStore(spark, str(tmp_path / "pinned"))
    st2.build(first, **BUILD)
    st2.append(_emb(spark, n=70).where(F.col("vec_id") >= 20))
    assert st2.maybe_rebuild(_emb(spark, n=70)) is False
    assert st2.load().n_centroids == BUILD["n_centroids"]


def test_filtered_search_decision_cache(spark, tmp_path, monkeypatch):
    """VERDICT r9 #7: the filtered search's measured decision
    (selectivity + starved-probe set) persists next to the index model
    under the index-fingerprint staleness rule. A repeated invocation of
    the same filtered search must run ZERO measurement jobs — we poison
    DataFrame.count/collect during the cache-hit call to prove neither
    the selectivity counts nor the completeness collect happens — and
    must return row-identical results."""
    from pyspark.sql import DataFrame as DF

    df = _emb(spark, n=80)
    st, idx = ensure_index(spark, df, str(tmp_path / "annidx"), **BUILD)
    pred = F.col("vec_id") % 2 == 1
    cache = st.filtered_cache(idx.fingerprint)
    key = "vid_odd|k=5|std"
    kwargs = dict(
        k=5, overfetch=4, nprobe=2, dim=DIM, m_sub=4, ksub=4,
        centroids=idx.centroids, books=idx.pq_books, coded=st.codes("pq"),
    )
    first = S.topk_cosine_filtered_ivfpq(
        df, F.col("vec_id") < 3, pred, cache=cache, cache_key=key, **kwargs
    ).toPandas()
    ent = st.filtered_cache_get(key, idx.fingerprint)
    assert ent is not None and 0 < ent["selectivity"] < 1
    assert isinstance(ent["starved"], list)

    def boom(self, *a, **k):
        raise AssertionError("measurement job ran on a cache hit")

    with monkeypatch.context() as m:
        m.setattr(DF, "count", boom)
        m.setattr(DF, "collect", boom)
        second_df = S.topk_cosine_filtered_ivfpq(
            df, F.col("vec_id") < 3, pred,
            cache=cache, cache_key=key, **kwargs,
        )
    second = second_df.toPandas()
    cols = ["probe_id", "vec_id", "rank"]
    assert first.sort_values(cols).reset_index(drop=True)[cols].equals(
        second.sort_values(cols).reset_index(drop=True)[cols]
    )
    # staleness: a different fingerprint sees nothing...
    assert st.filtered_cache_get(key, [0, 0, 0]) is None
    # ...and a put under a NEW fingerprint (index rebuilt) drops old entries
    st.filtered_cache_put("other", [1, 2, 3], {"selectivity": 0.5, "starved": []})
    assert st.filtered_cache_get(key, idx.fingerprint) is None
    assert st.filtered_cache_get("other", [1, 2, 3]) is not None
    # exact-fallback decisions cache too (selectivity below the gate)
    tight = F.col("vec_id") % 40 == 1
    S.topk_cosine_filtered_ivfpq(
        df, F.col("vec_id") < 3, tight,
        cache=st.filtered_cache(idx.fingerprint), cache_key="tight", **kwargs,
    ).toPandas()
    tent = st.filtered_cache_get("tight", idx.fingerprint)
    assert tent is not None and tent["starved"] == []


def test_code_delta_run_lifecycle(spark, tmp_path, monkeypatch):
    """r10 LSM tier end to end: a micro-batch append lands as ONE delta
    run; searches/counts see its rows immediately; delete() reads the
    chash of a delta-resident id (fingerprint rolls down); purge rewrites
    delta files too (no physical resurrection); the fraction trigger
    folds runs into the bucket layout; a replayed append converges via
    skip_existing against delta-resident ids."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df.where(F.col("vec_id") < 40), **BUILD)
    base_files = set(st._snapshot()["files"])

    st.append(df.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)))
    man = st._snapshot()
    deltas = [f for f in man["files"] if f.startswith("codes_delta/")]
    assert len(deltas) == 1
    # no bucketed code file was written or superseded by the append
    assert {f for f in man["files"] if f.startswith("codes/")} == {
        f for f in base_files if f.startswith("codes/")
    }
    assert st.codes("pq").count() == 50
    assert st.codes("opq").count() == 50
    # cell-pruned read still sees delta rows of those cells: the union of
    # all cells equals the full view
    idx = st.load()
    all_cells = sorted(
        {r["_c"] for r in st.codes("pq").select("_c").distinct().collect()}
    )
    assert st.codes("pq", cells=all_cells).count() == 50

    # replayed append converges (ids 40-49 found in the DELTA run)
    st.append(df.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)),
              skip_existing=True)
    assert st.codes("pq", masked=False).count() == 50

    # delete a delta-resident id: chash comes from the run; masked reads
    # exclude it immediately
    fp_before = st.load().fingerprint
    st.delete(spark.createDataFrame([(45,)], "vec_id bigint"))
    assert st.codes("pq").count() == 49
    assert st.codes("pq", masked=False).count() == 50
    assert st.load().fingerprint != fp_before

    # purge rewrites the run (a tombstoned row must not survive in it)
    assert st.purge_tombstones() == 1
    man2 = st._snapshot()
    assert not any(f.startswith("codes_delta/") for f in man2["files"])
    assert st.codes("pq", masked=False).count() == 49

    # fold trigger: another run, floor dropped to 1 row -> fold fires
    st.append(df.where(F.col("vec_id") >= 50))
    assert any(f.startswith("codes_delta/") for f in st._snapshot()["files"])
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 1)
    assert st.maybe_fold_code_deltas() is True
    man3 = st._snapshot()
    assert not any(f.startswith("codes_delta/") for f in man3["files"])
    assert st.codes("pq", masked=False).count() == 59
    # trigger is quiet with no runs
    assert st.maybe_fold_code_deltas() is False


def test_id_bounds_cache_survives_subset_calls(spark, tmp_path):
    """ADVICE r10 #1: _id_bounds evicts against the LIVE manifest list,
    not the per-call subset — in the gate the append probe (pq codes +
    deltas) and the fold trigger (all codes + deltas) alternate every
    micro-batch, and per-call eviction made each flush the other's
    footer entries (O(index) footer re-opens per batch)."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df.where(F.col("vec_id") < 40), **BUILD)
    st.append(df.where(F.col("vec_id") >= 40))
    man = st._snapshot()
    local_root = st._local_root()
    assert local_root is not None
    all_code = [
        f
        for f in man["files"]
        if f.startswith("codes/") or f.startswith("codes_delta/")
    ]
    st._id_bounds(all_code, local_root, live_files=man["files"])
    opq = [f for f in all_code if f.startswith("codes/variant=opq/")]
    assert opq and all(f in st._id_bounds_cache for f in opq)
    # the append-probe subset (pq + deltas) must NOT evict opq entries
    pq_subset = [f for f in all_code if not f.startswith("codes/variant=opq/")]
    st._id_bounds(pq_subset, local_root, live_files=man["files"])
    assert all(f in st._id_bounds_cache for f in opq)
    # but a file live in neither the call nor the manifest IS evicted
    st._id_bounds_cache["ghost/file.parquet"] = (0, 0, 0)
    st._id_bounds(pq_subset, local_root, live_files=man["files"])
    assert "ghost/file.parquet" not in st._id_bounds_cache


def test_codes_cell_prune_contract_stable_across_fold(spark, tmp_path,
                                                      monkeypatch):
    """ADVICE r10 #3: a cell prune that matches nothing returns an EMPTY
    frame on both sides of a fold boundary (it used to raise once the
    delta runs folded away), and an unknown variant raises regardless of
    maintenance state."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df.where(F.col("vec_id") < 40), **BUILD)
    st.append(df.where(F.col("vec_id") >= 40))
    assert any(
        f.startswith("codes_delta/") for f in st._snapshot()["files"]
    )
    with pytest.raises(ValueError, match="unknown codes variant"):
        st.codes("xyz")
    assert st.codes("pq", cells=[999_999]).count() == 0  # deltas live
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 1)
    assert st.maybe_fold_code_deltas() is True
    assert not any(
        f.startswith("codes_delta/") for f in st._snapshot()["files"]
    )
    out = st.codes("pq", cells=[999_999])  # no deltas: same contract
    assert out.count() == 0
    assert "_code" in out.columns
    with pytest.raises(ValueError, match="unknown codes variant"):
        st.codes("xyz")


def test_remote_root_fold_trigger_caches_base_rows(spark, tmp_path,
                                                   monkeypatch):
    """ADVICE r10 #4: on non-local roots the fold trigger's base_rows
    (a count over the ENTIRE bucketed layout) is cached against the
    bucketed file list — proven by poisoning the cache with a huge count
    and observing the trigger trust it (a recount would fold)."""
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    st.build(df.where(F.col("vec_id") < 40), **BUILD)
    st.append(df.where(F.col("vec_id") >= 40))
    monkeypatch.setattr(st, "_local_root", lambda: None)  # simulate s3a
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 1)
    man = st._snapshot()
    key = tuple(sorted(f for f in man["files"] if f.startswith("codes/")))
    # poisoned cache: base so large the fraction floor can't be met — a
    # trigger that recounted the layout would see the real ~80 rows and
    # fold; one that trusts the cache stays quiet
    st._base_rows_cache = (key, 10**7)
    assert st.maybe_fold_code_deltas() is False
    # cache cleared -> recount happens, cache repopulates, fold fires
    st._base_rows_cache = None
    assert st.maybe_fold_code_deltas() is True
    assert not any(
        f.startswith("codes_delta/") for f in st._snapshot()["files"]
    )


def test_train_sample_deterministic_and_partition_invariant(spark):
    """r11 sampled training: membership is a pure id-hash (no RNG, no
    partition sensitivity); at or below the cap the input passes through
    untouched so small corpora keep bit-identical models."""
    df = _emb(spark, n=400)
    out, frac = S.train_sample(df, 400, 400)
    assert frac == 1.0 and out is df  # pass-through, not a rewrapped plan
    s1, f1 = S.train_sample(df, 400, 100)
    s2, f2 = S.train_sample(df.repartition(13), 400, 100)
    ids1 = sorted(r["vec_id"] for r in s1.select("vec_id").collect())
    ids2 = sorted(r["vec_id"] for r in s2.select("vec_id").collect())
    assert ids1 == ids2 and f1 == f2 == 0.25
    # binomial around the cap, and never empty
    assert 50 <= len(ids1) <= 150


def test_sampled_build_deterministic_and_encodes_full_corpus(
    spark, tmp_path, monkeypatch
):
    """r11: with the sample caps forced low enough to engage on the
    60-vector fixture, (a) the committed model is identical for a
    repartitioned corpus (determinism pytest VERDICT r10 #1 asks for),
    (b) the FULL corpus is still encoded (codes row counts = n per
    variant; fingerprint covers all vectors), (c) search over the
    sampled-trained index still works."""
    monkeypatch.setattr(AnnIndexStore, "TRAIN_SAMPLE_MIN", 16)
    monkeypatch.setattr(AnnIndexStore, "TRAIN_SAMPLE_PER_CENTROID", 4)
    df = _emb(spark)
    st = AnnIndexStore(spark, str(tmp_path / "a"))
    idx = st.build(df, **BUILD)
    # provenance lands in the committed meta sidecar
    import json as _json

    man = st._snapshot()
    model = [f for f in man["files"] if f.startswith("model/")]
    meta_rows = spark.read.parquet(
        *[f"{st.root}/{f}" for f in model]
    ).where(F.col("component") == "meta").collect()
    meta = _json.loads(meta_rows[0]["payload"])
    assert meta["train_sample_cap"] == 16  # max(16, 4*4)
    assert st.codes("pq").count() == 60
    assert st.codes("opq").count() == 60

    # same source, fresh store: bit-identical model (replay determinism)
    st2 = AnnIndexStore(spark, str(tmp_path / "b"))
    idx2 = st2.build(df, **BUILD)
    assert idx2.centroids == idx.centroids
    assert idx2.pq_books == idx.pq_books
    assert idx2.opq_books == idx.opq_books
    assert idx2.opq_rotation == idx.opq_rotation
    assert idx2.fingerprint == idx.fingerprint

    # repartitioned source: the SAMPLE is id-hash-stable (same member
    # set), so the model matches to float ulps — F.avg's partial-sum
    # order is partition-dependent for every training path (pre-existing,
    # not introduced by sampling); bit-identity across layouts is not the
    # contract, replay identity above is
    import numpy as np

    st3 = AnnIndexStore(spark, str(tmp_path / "c"))
    idx3 = st3.build(df.repartition(17), **BUILD)
    assert idx3.fingerprint == idx.fingerprint
    assert np.allclose(idx3.centroids, idx.centroids)
    assert np.allclose(idx3.pq_books, idx.pq_books)
    # OPQ's Procrustes/SVD step amplifies ulp drift into a different —
    # equally valid — rotation at toy sample sizes (code assignments of
    # near-tie points flip); assert the invariant instead: orthogonality
    R = np.asarray(idx3.opq_rotation)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)

    hits = S.topk_cosine_ivfpq(
        df,
        F.col("vec_id") < 3,
        k=5,
        dim=DIM,
        m_sub=BUILD["m_sub"],
        ksub=BUILD["ksub"],
        centroids=idx.centroids,
        books=idx.pq_books,
        coded=st.codes("pq"),
    )
    assert hits.groupBy("probe_id").count().count() == 3


def test_stream_ann_serve_matches_batch_and_hot_reloads(spark, tmp_path):
    """r11 streaming serving leg: (a) per-batch results over the probe
    stream are row-identical to the batch committed-index search for the
    same probes; (b) an index APPEND landing between micro-batches is
    served from the next reload on (results stamped with the new
    version); (c) replayed determinism is implied by (a) — the search
    reads one pinned snapshot per batch."""
    import pandas as pd

    from binance_data_framework_spark.streaming.ann_serve import (
        serve_batch,
        stream_ann_serve,
    )

    df = _emb(spark, n=50)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df, **BUILD)

    # external probes: fresh ids, vectors copied from corpus rows 0-2
    probe_rows = [
        (1000 + r["vec_id"], list(r["embedding"]))
        for r in df.where(F.col("vec_id") < 3).collect()
    ]
    src = tmp_path / "probes"
    src.mkdir()
    pdf = pd.DataFrame(probe_rows, columns=["vec_id", "embedding"])
    pdf.to_parquet(f"{src}/batch0.parquet", index=False)

    probes = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).parquet(str(src))
    results = str(tmp_path / "results")
    q = stream_ann_serve(
        probes, st, df, results, str(tmp_path / "ckpt"), k=5
    )
    q.awaitTermination(180)

    got = spark.read.parquet(results)
    batch_probes = spark.createDataFrame(
        probe_rows, "vec_id bigint, embedding array<double>"
    )
    want = serve_batch(batch_probes, st, idx, df, k=5)
    g = {
        (r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in got.select("probe_id", "vec_id", "cosine", "rank").collect()
    }
    w = {
        (r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in want.collect()
    }
    assert g == w and g
    assert {r["index_version"] for r in got.select("index_version").collect()} == {
        idx.version
    }

    # hot reload: append new vectors, stream a second batch, new version
    delta = _emb(spark, n=5, offset=7).select(
        (F.col("vec_id") + 500).alias("vec_id"), "embedding"
    )
    idx2 = st.append(delta)
    assert idx2.version > idx.version
    pdf.to_parquet(f"{src}/batch1.parquet", index=False)
    q2 = stream_ann_serve(
        probes, st, df.unionByName(delta), results,
        str(tmp_path / "ckpt"), k=5,
    )
    q2.awaitTermination(180)
    versions = {
        r["index_version"]
        for r in spark.read.parquet(results).select("index_version").collect()
    }
    assert versions == {idx.version, idx2.version}

    # replay idempotence (ADVICE r11 #5): wipe the checkpoint so BOTH
    # batches reprocess against the same results dir — dynamic partition
    # overwrite must REPLACE each batch's partition, never duplicate it
    import shutil

    before = spark.read.parquet(results).count()
    shutil.rmtree(str(tmp_path / "ckpt"))
    q3 = stream_ann_serve(
        probes, st, df.unionByName(delta), results,
        str(tmp_path / "ckpt"), k=5,
    )
    q3.awaitTermination(180)
    after = spark.read.parquet(results)
    assert after.count() == before
    dupes = (
        after.groupBy("batch_id", "probe_id", "rank")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_serve_probe_cap_raises(spark, tmp_path, monkeypatch):
    """VERDICT r11 #1: an unbounded micro-batch must hit SERVE_PROBE_MAX
    instead of silently building an O(probes x dim) driver matrix — the
    same bounded-collect contract as PAIRS_PROBE_MAX / the append cap."""
    from binance_data_framework_spark.streaming import ann_serve as AS

    df = _emb(spark, n=30)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx = st.build(df, **BUILD)
    probes = spark.createDataFrame(
        [(1000 + i, [float(j) for j in range(DIM)]) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    monkeypatch.setattr(AS, "SERVE_PROBE_MAX", 5)
    with pytest.raises(ValueError, match="SERVE_PROBE_MAX"):
        AS.serve_batch(probes, st, idx, df, k=3)
    # exactly at the cap: serves normally
    monkeypatch.setattr(AS, "SERVE_PROBE_MAX", 6)
    out = AS.serve_batch(probes, st, idx, df, k=3)
    assert out.groupBy("probe_id").count().count() == 6


def test_serve_batch_reads_version_consistent_codes(spark, tmp_path):
    """ADVICE r11 #1: a rebuild committing between load() and the batch's
    code read must NOT mix new codes with the stale handle's codebooks —
    serve_batch pins codes() to the handle's manifest version, so a stale
    handle serves the consistent OLD snapshot (same rows as before the
    rebuild)."""
    from binance_data_framework_spark.streaming.ann_serve import serve_batch

    df = _emb(spark, n=40)
    st = AnnIndexStore(spark, str(tmp_path / "idx"))
    idx_v1 = st.build(df, **BUILD)
    probes = spark.createDataFrame(
        [
            (1000 + r["vec_id"], list(r["embedding"]))
            for r in df.where(F.col("vec_id") < 2).collect()
        ],
        "vec_id bigint, embedding array<double>",
    )
    want = {
        (r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in serve_batch(probes, st, idx_v1, df, k=4).collect()
    }
    # a DIFFERENT corpus rebuild commits while the old handle is held
    df2 = _emb(spark, n=40, offset=13)
    idx_v2 = st.build(df2, force=True, **BUILD)
    assert idx_v2.version > idx_v1.version
    got = {
        (r["probe_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in serve_batch(probes, st, idx_v1, df, k=4).collect()
    }
    assert got == want and got


def test_compact_codes_detects_concurrent_append(spark, tmp_path, monkeypatch):
    """compact_codes races a concurrent append whose tombstone purge
    retires code files the compaction read: the compaction's commit must
    RAISE naming the op (publishing it would resurrect the purged row),
    the appender's vectors stay loadable, and the compaction's staged
    code files are reclaimed from the layout."""
    import os

    df = _emb(spark)
    root = str(tmp_path / "idx")
    a = AnnIndexStore(spark, root)
    a.build(df.where(F.col("vec_id") < 30), **BUILD)
    a.append(df.where((F.col("vec_id") >= 30) & (F.col("vec_id") < 45)))
    a.delete(spark.createDataFrame([(7,)], "vec_id bigint"))  # pending tomb
    b = AnnIndexStore(spark, root)
    orig_publish = AnnIndexStore._publish_staged
    staged: list[str] = []

    def racing_publish(self, staging):
        if self is not b or staged:
            return orig_publish(self, staging)
        # the concurrent writer lands first: its purge rewrites the
        # tombstoned cell and the delta run this compaction folds
        a.append(df.where(F.col("vec_id") >= 45), purge="always")
        staged.extend(orig_publish(self, staging))
        return staged

    monkeypatch.setattr(AnnIndexStore, "_publish_staged", racing_publish)
    with pytest.raises(
        RuntimeError, match="concurrent index write during compact_codes"
    ):
        b.compact_codes(fold_deltas=True)
    monkeypatch.undo()

    assert staged and not [f for f in staged if os.path.exists(f"{root}/{f}")]
    assert a.load().n_vectors == 59
    got = {r["vec_id"] for r in a.codes("pq").collect()}
    assert got == set(range(60)) - {7}
