"""Structured Streaming incremental semantics: watermarked OHLCV bars emit
finalized-only; within-watermark duplicates dropped."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from binance_data_framework_spark.streaming.incremental import (
    streaming_dedup,
    streaming_ohlcv,
)


def _write_ticks(path, rows):
    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "price"])
    # write micro-second timestamps: the engine session reads TIMESTAMP(NANOS)
    # as long (nanosAsLong, see sources/fixtures.py), which would clash with
    # the declared streaming schema
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{path}/part0.parquet", index=False)


def test_streaming_ohlcv_finalized_bars(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # three hours of ticks; with a 2h watermark, availableNow finalizes
    # every window whose end <= max(ts) - 2h
    rows = [
        ("S", datetime(2024, 1, 1, 0, 10), 1.0),
        ("S", datetime(2024, 1, 1, 0, 50), 2.0),
        ("S", datetime(2024, 1, 1, 1, 30), 5.0),
        ("S", datetime(2024, 1, 1, 4, 0), 9.0),  # advances watermark past hr 0-1
    ]
    _write_ticks(src, rows)
    stream = spark.readStream.schema("symbol string, ts timestamp, price double").parquet(
        str(src)
    )
    bars = streaming_ohlcv(stream, "1h")
    q = (
        bars.writeStream.format("memory")
        .queryName("bars_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["bucket"]: r for r in spark.sql("SELECT * FROM bars_out").collect()}
    assert datetime(2024, 1, 1, 0, 0) in out
    b0 = out[datetime(2024, 1, 1, 0, 0)]
    assert (b0["open"], b0["close"], b0["high"], b0["n_ticks"]) == (1.0, 2.0, 2.0, 2)
    # the hour-4 bar is NOT finalized (watermark hasn't passed it): append
    # mode must not emit it
    assert datetime(2024, 1, 1, 4, 0) not in out


def test_streaming_sma_stateful(spark, tmp_path):
    from binance_data_framework_spark.streaming.incremental import streaming_sma

    src = tmp_path / "src_sma"
    src.mkdir()
    rows = [("S", datetime(2024, 1, 1, h), float(h + 1)) for h in range(6)] + [
        ("T", datetime(2024, 1, 1, h), 10.0 * (h + 1)) for h in range(4)
    ]
    pdf = pd.DataFrame(rows, columns=["symbol", "bucket", "close"])
    pdf["bucket"] = pdf["bucket"].astype("datetime64[us]")
    pdf.to_parquet(f"{src}/part0.parquet", index=False)
    stream = spark.readStream.schema("symbol string, bucket timestamp, close double").parquet(
        str(src)
    )
    out = streaming_sma(stream, window=3)
    q = (
        out.writeStream.format("memory")
        .queryName("sma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["bucket"]): r["sma"]
        for r in spark.sql("SELECT * FROM sma_out").collect()
    }
    assert len(got) == 10  # one output row per input bar
    assert got[("S", datetime(2024, 1, 1, 0))] is None  # fewer than window bars
    assert got[("S", datetime(2024, 1, 1, 2))] == 2.0  # (1+2+3)/3
    assert got[("S", datetime(2024, 1, 1, 5))] == 5.0  # (4+5+6)/3
    assert got[("T", datetime(2024, 1, 1, 3))] == 30.0  # (20+30+40)/3


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "src2"
    src.mkdir()
    rows = [
        ("S", datetime(2024, 1, 1, 0, 10), 1.0),
        ("S", datetime(2024, 1, 1, 0, 10), 1.0),  # duplicate key
        ("S", datetime(2024, 1, 1, 0, 50), 2.0),
    ]
    _write_ticks(src, rows)
    stream = spark.readStream.schema("symbol string, ts timestamp, price double").parquet(
        str(src)
    )
    deduped = streaming_dedup(stream, keys=("ts", "symbol"), watermark="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out").collect()
    assert len(got) == 2


def test_streaming_sma_group_spanning_arrow_chunks(spark, tmp_path):
    """A group larger than the Arrow batch size arrives as several chunks;
    the SMA must reflect GLOBAL event-time order, not chunk-local order
    (regression: per-chunk sort_values fed the window out of order)."""
    from binance_data_framework_spark.streaming.incremental import streaming_sma

    src = tmp_path / "src_chunks"
    src.mkdir()
    # write in REVERSE time order so chunk-local order != event-time order
    rows = [("S", datetime(2024, 1, 1, h), float(h + 1)) for h in range(9, -1, -1)]
    pdf = pd.DataFrame(rows, columns=["symbol", "bucket", "close"])
    pdf["bucket"] = pdf["bucket"].astype("datetime64[us]")
    pdf.to_parquet(f"{src}/part0.parquet", index=False)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(
            "symbol string, bucket timestamp, close double"
        ).parquet(str(src))
        q = (
            streaming_sma(stream, window=3)
            .writeStream.format("memory")
            .queryName("sma_chunks")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        r["bucket"]: r["sma"] for r in spark.sql("SELECT * FROM sma_chunks").collect()
    }
    assert len(got) == 10
    assert got[datetime(2024, 1, 1, 0)] is None
    assert got[datetime(2024, 1, 1, 1)] is None
    for h in range(2, 10):
        assert got[datetime(2024, 1, 1, h)] == float(h)  # mean of (h-1, h, h+1)


def test_streaming_sessionize_finalized_sessions(spark, tmp_path):
    """Session windows close on the inactivity gap and emit once the
    watermark passes: two bursts 40 min apart become two sessions; the
    session still open at end-of-stream is not emitted in append mode."""
    from binance_data_framework_spark.streaming.incremental import (
        streaming_sessionize,
    )

    src = tmp_path / "src_sess"
    src.mkdir()
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0), 1.0),
        ("u1", datetime(2024, 1, 1, 0, 10), 1.0),
        ("u1", datetime(2024, 1, 1, 0, 20), 1.0),  # session 1: 3 events
        ("u1", datetime(2024, 1, 1, 1, 0), 1.0),
        ("u1", datetime(2024, 1, 1, 1, 5), 1.0),  # session 2: 2 events
        ("u2", datetime(2024, 1, 1, 0, 5), 1.0),  # session: 1 event
        ("u1", datetime(2024, 1, 1, 9, 0), 1.0),  # advances watermark; stays open
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{src}/part0.parquet", index=False)
    stream = spark.readStream.schema("user_id string, ts timestamp, value double").parquet(
        str(src)
    )
    q = (
        streaming_sessionize(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got[("u1", datetime(2024, 1, 1, 0, 0))] == (datetime(2024, 1, 1, 0, 50), 3)
    assert got[("u1", datetime(2024, 1, 1, 1, 0))] == (datetime(2024, 1, 1, 1, 35), 2)
    assert got[("u2", datetime(2024, 1, 1, 0, 5))] == (datetime(2024, 1, 1, 0, 35), 1)
    assert ("u1", datetime(2024, 1, 1, 9, 0)) not in got  # still open


def test_streaming_ohlcv_composes_with_store_sink(spark, tmp_path):
    """The module's own producer and sink compose directly: streaming_ohlcv
    labels bars 'bucket', and stream_to_store(ts_col='bucket') maps it onto
    the store's ts — plus the real-volume knob (volume_col) flows through
    (code-review r4 findings)."""
    from binance_data_framework_spark.store import OhlcvStore
    from binance_data_framework_spark.streaming.incremental import stream_to_store

    src = tmp_path / "src_compose"
    src.mkdir()
    rows = [
        ("S", datetime(2024, 1, 1, 0, 10), 1.0, 100.0),
        ("S", datetime(2024, 1, 1, 0, 50), 2.0, 50.0),
        ("S", datetime(2024, 1, 1, 4, 0), 9.0, 1.0),  # watermark driver
    ]
    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "price", "qty"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{src}/p.parquet", index=False)
    stream = spark.readStream.schema(
        "symbol string, ts timestamp, price double, qty double"
    ).parquet(str(src))
    bars = streaming_ohlcv(stream, "1h", volume_col="qty")
    store = OhlcvStore(spark, str(tmp_path / "compose_store"))
    q = stream_to_store(
        bars, store, "S", "1h", str(tmp_path / "compose_ckpt"), ts_col="bucket"
    )
    q.awaitTermination(120)
    out = store.get_data("S", "1h").collect()
    assert len(out) == 1  # only the finalized hour-0 bar landed
    assert out[0]["ts"] == datetime(2024, 1, 1, 0, 0)
    assert out[0]["volume"] == 150.0  # sum(qty), not sum(price)


def test_streaming_asof_latest_prior_quote(spark, tmp_path):
    """Watermarked as-of: each finalized tick carries the latest quote at or
    before it within tolerance; ticks not yet past the watermark are
    withheld; quotes outside tolerance never match."""
    from binance_data_framework_spark.streaming.incremental import streaming_asof

    t_dir, q_dir = tmp_path / "ticks", tmp_path / "quotes"
    t_dir.mkdir(), q_dir.mkdir()
    ticks = pd.DataFrame(
        [
            ("S", datetime(2024, 1, 1, 0, 30)),
            ("S", datetime(2024, 1, 1, 1, 40)),
            ("T", datetime(2024, 1, 1, 2, 0)),  # no quote within 1h tolerance
            ("S", datetime(2024, 1, 1, 9, 0)),  # advances watermark; withheld
        ],
        columns=["symbol", "ts"],
    )
    ticks["ts"] = ticks["ts"].astype("datetime64[us]")
    ticks.to_parquet(f"{t_dir}/p.parquet", index=False)
    quotes = pd.DataFrame(
        [
            ("S", datetime(2024, 1, 1, 0, 0), 1.0),
            ("S", datetime(2024, 1, 1, 0, 20), 2.0),
            ("S", datetime(2024, 1, 1, 1, 30), 3.0),
            ("T", datetime(2024, 1, 1, 0, 30), 7.0),  # 90 min before T's tick
            ("S", datetime(2024, 1, 1, 9, 0), 9.0),
        ],
        columns=["symbol", "qts", "qval"],
    )
    quotes["qts"] = quotes["qts"].astype("datetime64[us]")
    quotes.to_parquet(f"{q_dir}/p.parquet", index=False)

    t = spark.readStream.schema("symbol string, ts timestamp").parquet(str(t_dir))
    q = spark.readStream.schema("symbol string, qts timestamp, qval double").parquet(
        str(q_dir)
    )
    out = streaming_asof(t, q, tolerance="1 hour", watermark="2 hours")
    qy = (
        out.writeStream.format("memory")
        .queryName("asof_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): (r["quote"], r["quote_ts"])
        for r in spark.sql("SELECT * FROM asof_stream_out").collect()
    }
    assert got[("S", datetime(2024, 1, 1, 0, 30))] == (2.0, datetime(2024, 1, 1, 0, 20))
    assert got[("S", datetime(2024, 1, 1, 1, 40))] == (3.0, datetime(2024, 1, 1, 1, 30))
    # no quote within tolerance -> the tick still emits, with nulls (left
    # outer, matching the batch asof_join), instead of silently vanishing
    assert got[("T", datetime(2024, 1, 1, 2, 0))] == (None, None)
    assert ("S", datetime(2024, 1, 1, 9, 0)) not in got  # still open


def test_streaming_corpus_ingest_to_docstore(spark, tmp_path):
    """The document tier's end-to-end streaming story (corpus_ingest.py):
    a JSONL landing-directory tail upserts into the transactional
    DocumentStore with exactly-once semantics — new shards land as keyed
    upserts (incoming wins), malformed lines are quarantined not dropped,
    a replayed run with no new shards commits nothing, and a restart
    after checkpoint continues from the unprocessed backlog only."""
    from binance_data_framework_spark.docstore import DocumentStore
    from binance_data_framework_spark.streaming.corpus_ingest import (
        stream_jsonl_documents,
        stream_jsonl_to_docstore,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    quar = str(tmp_path / "quarantine")
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=4)

    def run():
        clean, bad = stream_jsonl_documents(spark, str(land))
        for q in stream_jsonl_to_docstore(
            clean, store, ckpt, quarantine=bad, quarantine_dir=quar
        ):
            q.awaitTermination(120)

    def doc(i, text):
        return (
            f'{{"doc_id": {i}, "text": "{text}", "lang": "en", '
            f'"source": "web", "n_chars": {len(text)}}}'
        )

    # shard 1: two clean docs + one malformed line
    (land / "shard-000.jsonl").write_text(
        doc(1, "alpha") + "\n" + doc(2, "beta") + "\nnot json at all\n"
    )
    run()
    assert {r["doc_id"]: r["text"] for r in store.read().collect()} == {
        1: "alpha",
        2: "beta",
    }
    v1 = store.snapshot_versions()[-1]
    quarantined = spark.read.text(f"{quar}/data").collect()
    assert [r["value"] for r in quarantined] == ["not json at all"]

    # replay with no new shards: no commit, no duplicate quarantine rows
    run()
    assert store.snapshot_versions()[-1] == v1
    assert spark.read.text(f"{quar}/data").count() == 1

    # shard 2: a redelivered doc with NEW content (upsert wins) + a new doc
    (land / "shard-001.jsonl").write_text(doc(2, "beta-v2") + "\n" + doc(3, "gamma") + "\n")
    run()
    got = {r["doc_id"]: r["text"] for r in store.read().collect()}
    assert got == {1: "alpha", 2: "beta-v2", 3: "gamma"}
    assert store.snapshot_versions()[-1] > v1


def test_streaming_corpus_ingest_watermark_dedup(spark, tmp_path):
    """With an event-time column, redelivered keys within the watermark are
    dropped IN-STREAM (bounded dedup state) before the store ever sees
    them: one shard holding the same doc twice upserts a single row."""
    from binance_data_framework_spark.docstore import DocumentStore
    from binance_data_framework_spark.streaming.corpus_ingest import (
        stream_jsonl_documents,
        stream_jsonl_to_docstore,
    )

    land = tmp_path / "landing"
    land.mkdir()
    schema = "doc_id bigint, text string, fetched_at timestamp"
    (land / "s.jsonl").write_text(
        '{"doc_id": 1, "text": "first", "fetched_at": "2024-01-01T00:00:00"}\n'
        '{"doc_id": 1, "text": "dup", "fetched_at": "2024-01-01T00:05:00"}\n'
        '{"doc_id": 2, "text": "two", "fetched_at": "2024-01-01T00:06:00"}\n'
    )
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    clean, _ = stream_jsonl_documents(
        spark, str(land), schema=schema, dedup_ts_col="fetched_at"
    )
    for q in stream_jsonl_to_docstore(clean, store, str(tmp_path / "ckpt")):
        q.awaitTermination(120)
    rows = store.read().collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    assert sum(1 for r in rows if r["doc_id"] == 1) == 1


def test_streaming_neardup_gated_ingest(spark, tmp_path):
    """Continuous curation: each batch is near-dup-checked against the
    committed corpus via the persisted band index (no corpus scan), and
    in-batch duplicates resolve deterministically (lowest id wins).
    Covers: accept-all first batch, corpus-duplicate drop, in-batch
    duplicate drop, same-id redelivery kept (idempotent upsert), and a
    checkpointed replay committing nothing new."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.corpus_ingest import (
        stream_jsonl_documents,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        stream_neardup_ingest,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=4)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=8)

    def run():
        clean, _ = stream_jsonl_documents(spark, str(land))
        q = stream_neardup_ingest(clean, store, bands, ckpt, threshold=0.9)
        q.awaitTermination(180)

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words about spark engines and parquet files"
    t4 = "a third topic entirely concerning minhash bands and bucket joins"

    def doc(i, text):
        return (
            f'{{"doc_id": {i}, "text": "{text}", "lang": "en", '
            f'"source": "web", "n_chars": {len(text)}}}'
        )

    (land / "shard-000.jsonl").write_text(doc(1, t1) + "\n" + doc(2, t2) + "\n")
    run()
    assert {r["doc_id"] for r in store.read().collect()} == {1, 2}
    # signatures ride with the docs; the band index holds both docs' bands
    assert "sig" in store.read().columns
    from binance_data_framework_spark.operators.dedup import minhash_bands

    stored_bands = minhash_bands(store.read().select("doc_id", "sig"))
    assert {
        r["id_stored"] for r in bands.candidates(stored_bands).collect()
    } == {1, 2}

    # batch 2: 3 = exact copy of doc 1 (corpus dup -> dropped), 4 = new,
    # 5 = exact copy of 4 (in-batch dup -> 4 survives, lowest id),
    # 2 redelivered identically (same id -> kept, idempotent upsert)
    (land / "shard-001.jsonl").write_text(
        doc(3, t1) + "\n" + doc(4, t4) + "\n" + doc(5, t4) + "\n" + doc(2, t2) + "\n"
    )
    run()
    assert {r["doc_id"] for r in store.read().collect()} == {1, 2, 4}

    # checkpointed replay with no new shards: nothing changes
    v = store.snapshot_versions()[-1]
    run()
    assert store.snapshot_versions()[-1] == v
    assert {r["doc_id"] for r in store.read().collect()} == {1, 2, 4}


def test_neardup_gate_batch_stats_and_band_layout(spark, tmp_path):
    """Direct batch-level checks: the gate's observability counts add up,
    and BandIndexStore pins its layout (a different n_buckets on reopen
    must raise, like DocumentStore's shard layout)."""
    import pytest as _pytest

    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    t = "one common long text body repeated across the duplicate documents"
    s1 = neardup_gate_batch(
        mk([(10, t), (11, "something else entirely on another subject")]),
        store,
        bands,
        threshold=0.9,
    )
    assert isinstance(s1.pop("stage_sec"), dict)  # r10 observability
    assert s1 == {
        "arrived": 2,
        "kept": 2,
        "saved": 2,
        "dropped_in_batch": 0,
        "dropped_contaminated": 0,
        "dropped_vs_corpus": 0,
        "drift": None,
    }
    s2 = neardup_gate_batch(
        mk([(12, t), (13, t), (14, "fresh and unrelated closing words here")]),
        store,
        bands,
        threshold=0.9,
    )
    assert set(s2.pop("stage_sec")) >= {"sig_selfdedup", "corpus_check"}
    assert s2 == {
        "arrived": 3,
        "kept": 1,
        "saved": 1,
        "dropped_in_batch": 1,  # 13 loses to 12 in-batch
        "dropped_contaminated": 0,
        "dropped_vs_corpus": 1,  # 12 near-dups stored 10
        "drift": None,
    }
    assert {r["doc_id"] for r in store.read().collect()} == {10, 11, 14}
    # empty batch short-circuits
    s3 = neardup_gate_batch(mk([]), store, bands)
    assert s3["arrived"] == 0 and s3["kept"] == 0
    with _pytest.raises(ValueError, match="layout mismatch"):
        BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=8).candidates(
            mk([]).select(
                "doc_id",
                F.lit(0).alias("band_idx"),
                F.lit(0).cast("long").alias("band_hash"),
            )
        )


def test_gate_batch_reads_docstore_once(spark, tmp_path, monkeypatch):
    """Per-batch read budget: against a non-empty store the corpus check's
    signature verification and the append-new save split share ONE
    DocumentStore.read_keys point read (batch ids plus candidate ids), and
    the split still classifies copy / redelivery / fresh correctly."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    texts = [
        f"wholly distinct content number {i} tokens alpha{i} beta{i} gamma{i}"
        for i in range(4)
    ]
    neardup_gate_batch(mk([(0, texts[0]), (1, texts[1])]), store, bands)
    calls = []
    orig = DocumentStore.read_keys

    def counting(self, keys):
        calls.append(self.root)
        return orig(self, keys)

    monkeypatch.setattr(DocumentStore, "read_keys", counting)
    # 10 copies stored doc 0 under a new id, 1 is redelivered, 3 is fresh
    stats = neardup_gate_batch(
        mk([(10, texts[0]), (1, texts[1]), (3, texts[3])]), store, bands
    )
    assert len(calls) == 1
    stats.pop("stage_sec")
    assert stats == {
        "arrived": 3,
        "kept": 2,
        "saved": 1,
        "dropped_in_batch": 0,
        "dropped_contaminated": 0,
        "dropped_vs_corpus": 1,
        "drift": None,
    }
    assert {r["doc_id"] for r in store.read().collect()} == {0, 1, 3}


def test_neardup_gate_band_param_drift_raises(spark, tmp_path):
    """Band hashes are a pure function of the minhash params, so the gate
    pins them in the band store's layout sidecar (ADVICE r6): reopening
    the gate with different num_hashes/num_bands/shingle_n must raise
    instead of silently admitting near-duplicates whose band keys can
    never match the committed rows."""
    import pytest as _pytest

    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    t = "one common long text body repeated across the duplicate documents"
    neardup_gate_batch(mk([(1, t)]), store, bands, num_hashes=16, num_bands=4)
    # fresh store handle (a reopened gate), drifted minhash params -> raise
    bands2 = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    with _pytest.raises(ValueError, match="band-param mismatch"):
        neardup_gate_batch(
            mk([(2, t)]), store, bands2, num_hashes=32, num_bands=8
        )
    # same params on a reopened handle validate cleanly
    bands3 = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    stats = neardup_gate_batch(
        mk([(2, t)]), store, bands3, num_hashes=16, num_bands=4
    )
    assert stats["dropped_vs_corpus"] == 1  # the committed bands DO match


def test_band_index_compact_drops_bands_and_folds_duplicates(spark, tmp_path):
    """BandIndexStore.compact (VERDICT r6 #2): a deleted doc's bands leave
    the index — bucket-pruned when the caller still has the bands
    (recomputed from the stored sig), full-rewrite when only ids remain —
    and redelivery-duplicated band rows fold away."""
    from binance_data_framework_spark.docstore import BandIndexStore
    from binance_data_framework_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different words about spark and parquet"),
        ],
        "doc_id bigint, text string",
    )
    sigs = minhash_signature(docs)
    bands = minhash_bands(sigs)
    st = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    st.append(bands)
    st.append(bands)  # redelivery: duplicate rows

    probe = minhash_bands(sigs.where("doc_id = 1"))
    assert {r["id_stored"] for r in st.candidates(probe).collect()} == {1, 2}

    # bucket-pruned drop: doc 2's bands, recomputed from its signature
    n = st.compact(drop_bands=minhash_bands(sigs.where("doc_id = 2")))
    assert n > 0
    assert {r["id_stored"] for r in st.candidates(probe).collect()} == {1}
    remaining = spark.read.option("basePath", st.root).parquet(
        *[f"{st.root}/{f}" for f in st._snapshot()["files"]]
    )
    assert remaining.where("doc_id = 2").count() == 0
    # duplicates folded in the TOUCHED buckets (a pruned compact leaves
    # untouched buckets as-is — that's the point of the prune)
    touched = {
        r["bucket"]
        for r in minhash_bands(sigs.where("doc_id = 2"))
        .select(F.pmod("band_hash", F.lit(4)).alias("bucket"))
        .distinct()
        .collect()
    }
    in_touched = remaining.where(F.col("bucket").isin(*touched))
    assert in_touched.count() == in_touched.distinct().count()

    # id-only drop: full rewrite removes doc 1 everywhere and folds ALL
    # remaining duplicates
    st.compact(drop_keys=spark.createDataFrame([(1,)], "doc_id bigint"))
    assert st.candidates(probe).count() == 0
    left = spark.read.option("basePath", st.root).parquet(
        *[f"{st.root}/{f}" for f in st._snapshot()["files"]]
    )
    assert {r["doc_id"] for r in left.collect()} == {3}
    assert left.count() == left.distinct().count()
    # nothing left to do: single-file buckets, no drops -> 0
    assert st.compact() == 0


def test_streaming_gated_ingest_feeds_ann_index(spark, tmp_path):
    """The composed continuous pipeline (VERDICT r6 #3), streaming form:
    JSONL tail -> near-dup gate -> DocumentStore + band index + ANN append
    in the same cadence. availableNow batches, checkpoint restart, and a
    doc ingested two batches ago is searchable from the committed index;
    a redelivered shard converges to a no-op append."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.operators import similarity as S
    from binance_data_framework_spark.streaming.corpus_ingest import (
        stream_jsonl_documents,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        stream_neardup_ingest,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=4)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=8)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )
    schema = "doc_id bigint, text string, embedding array<double>"

    def run():
        clean, _ = stream_jsonl_documents(spark, str(land), schema=schema)
        q = stream_neardup_ingest(
            clean,
            store,
            bands,
            ckpt,
            threshold=0.9,
            ann_store=ann,
            ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
        )
        q.awaitTermination(180)

    def emb(i):
        return [round(((i * 7 + j * 3) % 11) - 5 + 0.1 * j, 1) for j in range(8)]

    def doc(i, text):
        return f'{{"doc_id": {i}, "text": "{text}", "embedding": {emb(i)}}}'

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words about spark engines and parquet files"
    t3 = "a third topic entirely concerning minhash bands and bucket joins"
    t5 = "yet another distinct subject matter for the final micro batch"

    # batch 1: two new docs -> index TRAINED on them
    (land / "b1.jsonl").write_text(doc(1, t1) + "\n" + doc(2, t2) + "\n")
    run()
    assert ann.load() is not None and ann.load().n_vectors == 2
    # batch 2: 3 new, 4 = near-dup of 1 (gated out -> never indexed)
    (land / "b2.jsonl").write_text(doc(3, t3) + "\n" + doc(4, t1) + "\n")
    run()
    # batch 3: one more new doc
    (land / "b3.jsonl").write_text(doc(5, t5) + "\n")
    run()

    stored = store.read()
    assert {r["doc_id"] for r in stored.collect()} == {1, 2, 3, 5}
    ids = {r["doc_id"] for r in ann.codes("pq").select("doc_id").collect()}
    assert ids == {1, 2, 3, 5}  # doc 3 (two batches ago) is in the index
    # fingerprint certifies exactly the stored corpus
    assert (
        ann.load(validate_against=stored.select("doc_id", "embedding"))
        is not None
    )
    # and doc 3 is SEARCHABLE from the committed index
    idx = ann.load()
    hits = {
        r["doc_id"]
        for r in S.topk_cosine_ivfpq(
            stored.select("doc_id", "embedding"),
            F.col("doc_id") == 5,
            k=3,
            id_col="doc_id",
            vec_col="embedding",
            dim=8,
            n_centroids=2,
            m_sub=4,
            ksub=4,
            nprobe=2,
            centroids=idx.centroids,
            books=idx.pq_books,
            coded=ann.codes("pq"),
        ).collect()
    }
    assert hits and 3 in hits and hits <= {1, 2, 3}

    # checkpoint restart with no new shards: nothing changes anywhere
    v_ann = ann._snapshot()["version"]
    run()
    assert ann._snapshot()["version"] == v_ann

    # redelivered shard (same docs, new file): same-id docs kept, ANN
    # append converges to a no-op via skip_existing
    (land / "b2-redelivered.jsonl").write_text(doc(3, t3) + "\n")
    run()
    assert ann._snapshot()["version"] == v_ann  # filtered to empty: no commit
    assert ann.codes("pq").count() == 4


def test_gate_eval_decontamination(spark, tmp_path):
    """Ingest-time benchmark decontamination (r8): a persisted eval index
    (build_eval_index) makes the gate drop any batch doc near-duplicating
    an eval doc BEFORE it reaches any store — counted separately from the
    corpus drops, same-id collisions verified by content (not treated as
    redeliveries), eval stores never written by the gate, and the whole
    thing convergent under replay."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        build_eval_index,
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ev_store = DocumentStore(spark, str(tmp_path / "ev_store"), n_shards=2)
    ev_bands = BandIndexStore(spark, str(tmp_path / "ev_bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    bench = "the standardized benchmark question text used for evaluation runs"
    other = "an unrelated benchmark prompt about entirely different matters"
    assert build_eval_index(mk([(1, bench), (2, other)]), ev_store, ev_bands) == 2
    ev_v = ev_store._snapshot()["version"]
    ev_bv = ev_bands._snapshot()["version"]

    kw = dict(
        threshold=0.9,
        eval_docstore=ev_store,
        eval_band_store=ev_bands,
    )
    # doc 10 is contaminated (same text as eval doc 1 — and shares NO id
    # with it); doc 11 is clean. doc 1 collides with an EVAL id — it must
    # be judged by content (clean), not waved through as a "redelivery".
    s1 = neardup_gate_batch(
        mk([
            (10, bench),
            (11, "a perfectly ordinary training document body here"),
            (1, "training doc that happens to reuse an eval id value"),
        ]),
        store,
        bands,
        **kw,
    )
    assert s1["arrived"] == 3 and s1["dropped_contaminated"] == 1
    assert s1["kept"] == 2
    assert {r["doc_id"] for r in store.read().collect()} == {11, 1}
    # eval stores are READ-ONLY to the gate: no new commits
    assert ev_store._snapshot()["version"] == ev_v
    assert ev_bands._snapshot()["version"] == ev_bv

    # replay of the same batch: contaminated doc still dropped, stored
    # docs recognized as redeliveries -> converges, nothing double-counted
    s2 = neardup_gate_batch(
        mk([
            (10, bench),
            (11, "a perfectly ordinary training document body here"),
            (1, "training doc that happens to reuse an eval id value"),
        ]),
        store,
        bands,
        **kw,
    )
    assert s2["dropped_contaminated"] == 1 and s2["kept"] == 2
    assert {r["doc_id"] for r in store.read().collect()} == {11, 1}

    # param drift vs the eval index's pinned layout raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="param"):
        neardup_gate_batch(
            mk([(30, "whatever text")]), store, bands, num_hashes=8,
            num_bands=4, **kw,
        )


def test_gate_eval_stores_both_or_neither(spark, tmp_path):
    """ADVICE r8 #2: the decontamination stage needs BOTH eval stores —
    a lone eval_docstore silently disabled the stage (it is keyed off
    eval_band_store) and a lone eval_band_store failed only when a band
    collision occurred. Either half alone must raise up front, on every
    batch, clean or not."""
    import pytest as _pytest

    from binance_data_framework_spark.docstore import (
        BandIndexStore,
        DocumentStore,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ev_store = DocumentStore(spark, str(tmp_path / "ev_store"), n_shards=2)
    ev_bands = BandIndexStore(spark, str(tmp_path / "ev_bands"), n_buckets=4)
    batch = spark.createDataFrame(
        [(1, "a clean training document")], "doc_id bigint, text string"
    )
    with _pytest.raises(ValueError, match="together"):
        neardup_gate_batch(batch, store, bands, eval_docstore=ev_store)
    with _pytest.raises(ValueError, match="together"):
        neardup_gate_batch(batch, store, bands, eval_band_store=ev_bands)
    # both (or neither) still work
    s = neardup_gate_batch(batch, store, bands)
    assert s["kept"] == 1


def test_build_eval_index_rerun_is_idempotent(spark, tmp_path):
    """ADVICE r8 #4: build_eval_index is documented re-runnable, but the
    band leg was add-only — every re-run appended the same band rows
    again, growing the eval index and re-verifying duplicate collisions
    per lookup. A re-run must leave the committed band ROW count unchanged
    (docs upsert idempotently already), while genuinely new eval docs
    still index."""
    from binance_data_framework_spark.docstore import (
        BandIndexStore,
        DocumentStore,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        build_eval_index,
    )

    ev_store = DocumentStore(spark, str(tmp_path / "ev_store"), n_shards=2)
    ev_bands = BandIndexStore(spark, str(tmp_path / "ev_bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    docs = mk(
        [
            (1, "the standardized benchmark question text used in evals"),
            (2, "an unrelated benchmark prompt about different matters"),
        ]
    )
    assert build_eval_index(docs, ev_store, ev_bands) == 2
    n1 = ev_bands.read().count()
    # re-run with the identical corpus: no new band rows
    assert build_eval_index(docs, ev_store, ev_bands) == 2
    assert ev_bands.read().count() == n1
    # a new doc still indexes; the old ones still don't re-append
    assert (
        build_eval_index(
            docs.union(mk([(3, "a third benchmark item appended later")])),
            ev_store,
            ev_bands,
        )
        == 3
    )
    n3 = ev_bands.read().count()
    assert n1 < n3 <= n1 * 2
    assert ev_store.read().count() == 3


def test_gated_ingest_rebuilds_outgrown_ann_index(spark, tmp_path):
    """ADVICE r7 #4: the composed pipeline trains the ANN index on the
    FIRST accepted batch, pinning batch-1's auto-derived cell count and
    quantizer distribution through every later append. The gate must
    re-derive the cell count at the grown size and force-rebuild from the
    FULL stored corpus once appends outgrow the committed cells by the
    rebuild factor — and not before."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=4)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=8)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )

    def batch(lo, hi):
        rows = [
            (
                i,
                f"document {i} body w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f",
                [0.01 * i + float((i * 7 + j * 3) % 11) for j in range(8)],
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, embedding array<double>"
        )

    kw = dict(
        threshold=0.9,
        ann_store=ann,
        ann_build_kwargs=dict(dim=8, m_sub=4, ksub=4, target_cell=2),
    )
    # batch 1 (20 docs): build — auto_centroids(20, 2) = 16 (floor clamp)
    neardup_gate_batch(batch(0, 20), store, bands, **kw)
    idx = ann.load()
    assert idx.auto_cells and idx.n_centroids == 16 and idx.n_vectors == 20

    # batch 2 (10 docs): ideal = max(16, ceil(30/2)) = 16 < 2x16 — append
    # only, the committed model is untouched
    neardup_gate_batch(batch(20, 30), store, bands, **kw)
    idx2 = ann.load()
    assert idx2.n_centroids == 16 and idx2.n_vectors == 30
    assert idx2.centroids == idx.centroids

    # batch 3 (40 docs, corpus -> 70): ideal = ceil(70/2) = 35 >= 2x16 —
    # the gate force-rebuilds from the full DocumentStore corpus
    neardup_gate_batch(batch(30, 70), store, bands, **kw)
    idx3 = ann.load()
    assert idx3.n_centroids == 35 and idx3.n_vectors == 70
    # the rebuilt fingerprint certifies exactly the stored corpus
    assert (
        ann.load(validate_against=store.read().select("doc_id", "embedding"))
        is not None
    )
    assert ann.codes("pq").count() == 70

    # ann_rebuild_factor=None disables the trigger
    store2 = DocumentStore(spark, str(tmp_path / "store2"), n_shards=4)
    bands2 = BandIndexStore(spark, str(tmp_path / "bands2"), n_buckets=8)
    ann2 = AnnIndexStore(
        spark, str(tmp_path / "ann2"), id_col="doc_id", vec_col="embedding"
    )
    kw2 = dict(kw, ann_store=ann2, ann_rebuild_factor=None)
    neardup_gate_batch(batch(0, 20), store2, bands2, **kw2)
    neardup_gate_batch(batch(20, 70), store2, bands2, **kw2)
    assert ann2.load().n_centroids == 16 and ann2.load().n_vectors == 70


def test_gated_ingest_auto_compacts_fragmented_cells(spark, tmp_path, monkeypatch):
    """ann_compact_min_files, BULK regime (delta threshold forced to 0 so
    every append takes the bucketed per-cell write — micro-batch appends
    land as delta runs since r10, covered by the fold test below):
    appends fragment touched cells one file per batch; once a cell passes
    the threshold the gate folds the layout back to one file per cell,
    with counts and the fingerprint unchanged."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 0)

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )

    def batch(lo, hi):
        rows = [
            (
                i,
                f"body {i} w{i}a w{i}b w{i}c w{i}d w{i}e",
                [0.5 * i + float(j) for j in range(8)],
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, embedding array<double>"
        )

    def max_frag():
        from collections import Counter

        man = ann._snapshot()
        c = Counter(
            tuple(f.split("/")[1:3])
            for f in man["files"]
            if f.startswith("codes/")
        )
        return max(c.values())

    kw = dict(
        threshold=0.9,
        ann_store=ann,
        ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
        ann_compact_min_files=3,
    )
    neardup_gate_batch(batch(0, 6), store, bands, **kw)    # build
    neardup_gate_batch(batch(6, 12), store, bands, **kw)   # frag 2 — below
    assert max_frag() >= 2
    fp = ann.load().fingerprint
    neardup_gate_batch(batch(12, 18), store, bands, **kw)  # frag 3 — folds
    assert max_frag() == 1
    assert ann.codes("pq").count() == 18
    assert ann.load().fingerprint != fp  # append landed, THEN compaction
    assert (
        ann.load(validate_against=store.read().select("doc_id", "embedding"))
        is not None
    )


def test_gated_ingest_folds_code_delta_runs(spark, tmp_path, monkeypatch):
    """r10 LSM tier through the gate: micro-batch appends land as ONE
    code delta run each (no cell fragmentation), lookups see delta rows
    immediately, and the gate's maybe_fold_code_deltas leg folds runs
    into the bucketed layout once they cross the floor — counts and the
    validated fingerprint unchanged."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    # 6 docs/batch: <= 6 takes the delta write AND 12 delta code rows
    # >= the floor of 6 trips the fold — both roles of the constant
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 6)
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )

    def batch(lo, hi):
        rows = [
            (
                i,
                f"body {i} w{i}a w{i}b w{i}c w{i}d w{i}e",
                [0.5 * i + float(j) for j in range(8)],
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, embedding array<double>"
        )

    def files(prefix):
        return [
            f for f in ann._snapshot()["files"] if f.startswith(prefix)
        ]

    kw = dict(
        threshold=0.9,
        ann_store=ann,
        ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
        ann_compact_min_files=None,
    )
    neardup_gate_batch(batch(0, 6), store, bands, **kw)  # build (bucketed)
    n_bucketed = len(files("codes/"))
    neardup_gate_batch(batch(6, 12), store, bands, **kw)
    # the append landed as a run and the SAME batch's fold leg merged it
    # (12 delta rows >= floor 6): no runs left, layout rewritten once
    assert not files("codes_delta/")
    assert ann.codes("pq").count() == 12
    # raise the floor so the next run SURVIVES the fold leg: lookups must
    # consult it un-folded
    monkeypatch.setattr(AnnIndexStore, "CODES_DELTA_MAX_VECTORS", 1000)
    neardup_gate_batch(batch(12, 18), store, bands, **kw)
    assert len(files("codes_delta/")) == 1
    assert ann.codes("pq").count() == 18
    assert (
        ann.load(validate_against=store.read().select("doc_id", "embedding"))
        is not None
    )
    assert n_bucketed >= 1  # the build's bucketed layout is still the base


def test_streaming_full_stack_gate(spark, tmp_path):
    """Capstone: the COMPLETE self-maintaining pipeline through the
    streaming entry point — JSONL tail -> in-batch dedup -> eval
    decontamination -> corpus near-dup gate -> DocumentStore + band
    index + ANN append — in one stream_neardup_ingest run, across
    several availableNow cycles. r9: the stores are AUTO-sharded /
    AUTO-bucketed (every growth/compaction leg armed) and the drift
    monitor runs every batch. Asserts the end state of every tier and
    that a contaminated doc never reached any of them."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.corpus_ingest import (
        stream_jsonl_documents,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        build_eval_index,
        stream_neardup_ingest,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=None)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=None)
    ev_store = DocumentStore(spark, str(tmp_path / "ev_store"), n_shards=2)
    ev_bands = BandIndexStore(spark, str(tmp_path / "ev_bands"), n_buckets=8)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )
    bench_text = "the held out benchmark question text for evaluation only"
    build_eval_index(
        spark.createDataFrame(
            [(9001, bench_text)], "doc_id bigint, text string"
        ),
        ev_store,
        ev_bands,
    )

    schema = "doc_id bigint, text string, embedding array<double>"

    def emb(i):
        return [0.3 * i + float(j) for j in range(8)]

    def doc(i, text):
        return f'{{"doc_id": {i}, "text": "{text}", "embedding": {emb(i)}}}'

    def run():
        clean, _ = stream_jsonl_documents(spark, str(land), schema=schema)
        q = stream_neardup_ingest(
            clean,
            store,
            bands,
            ckpt,
            threshold=0.9,
            ann_store=ann,
            ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
            eval_docstore=ev_store,
            eval_band_store=ev_bands,
            drift_every=1,
            doc_compact_min_files=2,
            band_compact_min_files=2,
        )
        q.awaitTermination(180)

    t1 = "plain training document about spark physical plans and shuffles"
    t2 = "another unrelated training text concerning parquet row groups"
    t3 = "a third document on adaptive query execution and partitions"
    # batch 1: one clean doc + one CONTAMINATED (= the benchmark text)
    (land / "b1.jsonl").write_text(doc(1, t1) + "\n" + doc(2, bench_text) + "\n")
    run()
    # batch 2: clean + an in-corpus near-dup of doc 1
    (land / "b2.jsonl").write_text(doc(3, t2) + "\n" + doc(4, t1) + "\n")
    run()
    # batch 3: clean
    (land / "b3.jsonl").write_text(doc(5, t3) + "\n")
    run()

    kept = {r["doc_id"] for r in store.read().collect()}
    assert kept == {1, 3, 5}  # 2 contaminated, 4 near-duped
    assert {
        r["doc_id"] for r in ann.codes("pq").select("doc_id").collect()
    } == {1, 3, 5}
    assert (
        ann.load(validate_against=store.read().select("doc_id", "embedding"))
        is not None
    )
    # the contaminated doc never touched the eval tier either (read-only)
    assert {r["doc_id"] for r in ev_store.read().collect()} == {9001}
    # replay the whole landing dir from a fresh checkpoint: converges
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    assert {r["doc_id"] for r in store.read().collect()} == {1, 3, 5}
    assert ann.codes("pq").count() == 3


def test_delete_documents_composes_all_three_tiers(spark, tmp_path):
    """delete_documents (the removal leg of the curated corpus): one call
    drops a doc from the DocumentStore, its bands from the band index
    (bucket-pruned via the stored signature), and its vector from the
    committed ANN index (tombstone-masked search) — idempotently, with
    never-stored ids as no-ops."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        delete_documents,
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different words about spark engines and parquet files"),
        (3, "a third topic entirely concerning minhash bands and bucket joins"),
    ]
    batch = spark.createDataFrame(
        [
            (i, t, [float((i * 7 + j * 3) % 11) - 5 + 0.1 * j for j in range(8)])
            for i, t in texts
        ],
        "doc_id bigint, text string, embedding array<double>",
    )
    neardup_gate_batch(
        batch, store, bands,
        ann_store=ann,
        ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
    )
    assert {r["doc_id"] for r in store.read().collect()} == {1, 2, 3}

    out = delete_documents(
        spark.createDataFrame([(2,), (99,)], "doc_id bigint"), store, bands, ann
    )
    assert out == {"requested": 2, "deleted": 1}  # 99 was never stored
    assert {r["doc_id"] for r in store.read().collect()} == {1, 3}
    # bands gone: doc 2's own bands no longer produce a stored candidate
    from binance_data_framework_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )

    probe = minhash_bands(minhash_signature(batch.where("doc_id = 2")))
    assert bands.candidates(probe).where("id_stored = 2").count() == 0
    # ANN: tombstoned out of the masked code view
    assert ann.codes("pq").where("doc_id = 2").count() == 0
    assert ann.codes("pq", masked=False).where("doc_id = 2").count() == 1
    # idempotent re-run: no further change, no error
    out2 = delete_documents(
        spark.createDataFrame([(2,)], "doc_id bigint"), store, bands, ann
    )
    assert out2["deleted"] == 0
    assert {r["doc_id"] for r in store.read().collect()} == {1, 3}


def test_gate_auto_rebuckets_and_compacts_band_index(spark, tmp_path):
    """VERDICT r8 #1/#5: the self-maintaining gate's band-index legs.
    With an AUTO-bucketed band store and a tiny occupancy target, enough
    accepted batches trip maybe_rebucket (bucket count grows mid-stream,
    near-dup detection unaffected); independently, append fragmentation
    past band_compact_min_files folds buckets back to one file each.
    Pinned band stores (every pre-r9 caller) take neither leg."""
    from collections import Counter

    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(
        spark, str(tmp_path / "bands"), n_buckets=None, target_bucket_rows=8
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    texts = [
        f"document number {i} holds its own entirely distinct words "
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        for i in range(40)
    ]
    bands._check_layout()
    first = bands.n_buckets
    # batches of 10 distinct docs; 4 band rows/doc -> 160 committed rows
    # by batch 4, auto_buckets(160, 8) = 20 >= 2 x 8 -> rebucket fires
    for lo in range(0, 40, 10):
        s = neardup_gate_batch(
            mk([(i, texts[i]) for i in range(lo, lo + 10)]),
            store,
            bands,
            band_compact_min_files=None,
        )
        assert s["kept"] == 10
    assert bands.n_buckets > first
    # the grown layout still catches a near-duplicate of an OLD doc
    s = neardup_gate_batch(mk([(100, texts[0])]), store, bands)
    assert s["dropped_vs_corpus"] == 1 and s["kept"] == 0

    # fold leg (r10 delta tier): each batch appends 10 docs x 4 bands =
    # 40 rows; target_bucket_rows=40 puts that EXACTLY at the delta
    # threshold (append() takes the delta-run path at n_in <= target) AND
    # at the fold floor (maybe_fold_deltas fires at delta_rows >= target),
    # so every gate batch lands as ONE run and folds into the bucket
    # layout the same cycle. band_compact_min_files=None makes the fold
    # leg the ONLY folder in the gate — the one-file-per-bucket assertion
    # below can only hold if maybe_fold_deltas really ran (review r10 #6:
    # the old tiny target routed every append onto the bucketed path and
    # the compact leg made the assertions pass vacuously).
    store2 = DocumentStore(spark, str(tmp_path / "store2"), n_shards=2)
    bands2 = BandIndexStore(
        spark, str(tmp_path / "bands2"), n_buckets=4, target_bucket_rows=40
    )
    for lo in range(0, 30, 10):
        neardup_gate_batch(
            mk([(i, texts[i]) for i in range(lo, lo + 10)]),
            store2,
            bands2,
            band_compact_min_files=None,
        )
    files = bands2._snapshot()["files"]
    assert not any(f.startswith("delta/") for f in files)
    frag = Counter(
        b for f in files if (b := bands2._bucket_of(f)) is not None
    )
    assert frag and max(frag.values()) == 1  # folded to one file per bucket
    # pinned store: the rebucket leg never ran
    assert bands2.n_buckets == 4
    s = neardup_gate_batch(mk([(200, texts[5])]), store2, bands2)
    assert s["dropped_vs_corpus"] == 1


def test_gate_drift_monitoring_detects_boilerplate_wave(spark, tmp_path):
    """VERDICT r8 #6: the drift-monitoring leg, promoted from pytest
    composition to gate feature. First monitored batch seeds the
    vocab-grain baseline (report None); after a planted boilerplate wave
    floods the corpus, the next monitored point surfaces the injected
    term at the top of the report; the baseline then advances (a third
    probe against the unchanged corpus reports ~zero drift); and the
    arithmetic matches the oracled corpus_drift_terms exactly."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.operators.text import corpus_drift_terms
    from binance_data_framework_spark.streaming.neardup_ingest import (
        corpus_drift_report,
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    clean = [
        (i, f"ordinary words alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(8)
    ]
    s1 = neardup_gate_batch(mk(clean), store, bands, drift_report=True)
    assert s1["kept"] == 8 and s1["drift"] is None  # baseline seeded
    v1 = store._snapshot()["version"]

    # the wave: every doc carries the same injected boilerplate token
    wave = [
        (100 + i, f"zzboilerplate zzboilerplate filler{i} epsilon{i}")
        for i in range(8)
    ]
    s2 = neardup_gate_batch(mk(wave), store, bands, drift_report=True)
    assert s2["kept"] == 8 and s2["drift"] is not None
    top = s2["drift"][0]
    assert top["term"] == "zzboilerplate" and top["drift"] > 0
    assert top["cnt_baseline"] == 0 and top["cnt_now"] == 16

    # arithmetic parity with the oracled snapshot query: same top term
    # and drift value as corpus_drift_terms(v_now, v_baseline)
    snap = corpus_drift_terms(
        store.read().select("doc_id", "text"),
        store.read_version(v1).select("doc_id", "text"),
        k=1,
    ).collect()[0]
    assert snap["term"] == top["term"] and snap["drift"] == top["drift"]

    # baseline advanced: a dry-run probe on the unchanged corpus is flat
    probe = corpus_drift_report(store, k=1, update_baseline=False)
    assert abs(probe[0]["drift"]) < 0.05


def test_gate_append_new_save_path(spark, tmp_path):
    """save_mode="append_new" (r9): survivors already stored (band-detected
    redeliveries) are excluded from every tier's write — the doc commit is
    add-only and batch-sized, replay converges, stored content matches the
    upsert path for identical redeliveries, and the shard-compaction leg
    folds the per-batch fragmentation."""
    from collections import Counter

    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    texts = [
        f"wholly distinct content number {i} tokens alpha{i} beta{i} gamma{i}"
        for i in range(20)
    ]
    s1 = neardup_gate_batch(
        mk([(i, texts[i]) for i in range(10)]), store, bands,
        doc_compact_min_files=None,
    )
    assert s1["kept"] == 10 and s1["saved"] == 10
    v1 = store._snapshot()["version"]
    band_rows1 = bands.read().count()

    # exact replay: all redeliveries -> NOTHING written anywhere
    s2 = neardup_gate_batch(
        mk([(i, texts[i]) for i in range(10)]), store, bands,
        doc_compact_min_files=None,
    )
    assert s2["kept"] == 10 and s2["saved"] == 0
    assert store._snapshot()["version"] == v1  # no doc commit at all
    assert bands.read().count() == band_rows1  # no duplicate band rows
    assert store.read().count() == 10

    # mixed batch: 5 redelivered + 5 new -> only the new 5 written
    s3 = neardup_gate_batch(
        mk([(i, texts[i]) for i in range(5, 15)]), store, bands,
        doc_compact_min_files=None,
    )
    assert s3["kept"] == 10 and s3["saved"] == 5
    assert store.read().count() == 15
    # scan-clean: no duplicate keys ever
    assert store.read().select("doc_id").distinct().count() == 15

    # shard-compaction leg: batches fragment shards one file per append;
    # threshold 2 folds them back to one file per shard
    s4 = neardup_gate_batch(
        mk([(i, texts[i]) for i in range(15, 20)]), store, bands,
        doc_compact_min_files=2,
    )
    assert s4["saved"] == 5
    frag = Counter(
        s
        for f in store._snapshot()["files"]
        if (s := store._shard_of(f)) is not None
    )
    assert max(frag.values()) == 1
    assert store.read().count() == 20


def test_gate_replay_crash_windows_and_drifted_resend(spark, tmp_path):
    """Review r9 crash-window fixes, pinned:

    (1) ANN leg feeds ALL survivors — a replay where docs+bands are
        already committed but the ANN leg never ran must still index the
        vectors (to_store is empty on such a replay; feeding it would
        lose them forever);
    (2) a same-id re-send with DRIFTED text writes NOTHING — not even
        band rows (phantom bands for unstored content);
    (3) a crash-window doc (stored, bands missing, text identical) gets
        its bands backfilled on replay."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )
    from binance_data_framework_spark.streaming.neardup_ingest import (
        neardup_gate_batch,
    )

    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    ann = AnnIndexStore(
        spark, str(tmp_path / "ann"), id_col="doc_id", vec_col="embedding"
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string, embedding array<double>"
    )
    emb = lambda i: [0.25 * i + float(j) for j in range(8)]  # noqa: E731
    texts = [
        f"document body {i} entirely distinct alpha{i} beta{i} gamma{i}"
        for i in range(6)
    ]
    batch = mk([(i, texts[i], emb(i)) for i in range(4)])

    # (1) first pass WITHOUT the ANN leg = the crash-before-ANN state
    s1 = neardup_gate_batch(batch, store, bands)
    assert s1["saved"] == 4
    # replay WITH the ANN leg: every survivor is a redelivery, yet the
    # index must end up holding all four vectors
    s2 = neardup_gate_batch(
        batch, store, bands,
        ann_store=ann,
        ann_build_kwargs=dict(dim=8, n_centroids=2, m_sub=4, ksub=4),
    )
    assert s2["saved"] == 0
    assert ann.codes("pq").count() == 4

    # (2) drifted same-id re-send: nothing lands anywhere
    band_rows = bands.read().count()
    v = store._snapshot()["version"]
    s3 = neardup_gate_batch(
        mk([(0, "totally different replacement words zeta eta theta", emb(9))]),
        store,
        bands,
        ann_store=ann,
    )
    assert s3["saved"] == 0
    assert store._snapshot()["version"] == v  # no doc commit
    assert bands.read().count() == band_rows  # no phantom bands
    assert {r["text"] for r in store.read().where("doc_id = 0").collect()} == {
        texts[0]
    }
    assert ann.codes("pq").count() == 4

    # (3) crash window: doc 5 stored (with sig) but bands never appended
    doc5 = mk([(5, texts[5], emb(5))])
    sig5 = minhash_signature(doc5)
    store.append_docs(doc5.join(sig5, "doc_id").select(
        "doc_id", "text", "embedding", "sig"
    ))
    s4 = neardup_gate_batch(doc5, store, bands, ann_store=ann)
    assert s4["saved"] == 0  # the doc row was already there
    # ...but its bands were backfilled: an exact copy is now caught
    s5 = neardup_gate_batch(
        mk([(50, texts[5], emb(5))]), store, bands, ann_store=ann
    )
    assert s5["dropped_vs_corpus"] == 1 and s5["saved"] == 0
    assert ann.codes("pq").count() == 5  # doc 5's vector indexed too


def test_build_eval_index_band_crash_window_completes(spark, tmp_path):
    """Review r9 #2: build_eval_index's idempotency keys off the BAND
    index (self-collision), not the doc store — a crash between the doc
    commit and the band append, followed by a re-run, must complete the
    band rows (the doc-store membership check left them unindexed
    forever, silently disabling decontamination for those docs)."""
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.operators.dedup import minhash_signature
    from binance_data_framework_spark.streaming.neardup_ingest import (
        build_eval_index,
        neardup_gate_batch,
    )

    ev_store = DocumentStore(spark, str(tmp_path / "ev_store"), n_shards=2)
    ev_bands = BandIndexStore(spark, str(tmp_path / "ev_bands"), n_buckets=4)
    bench = "the held out benchmark question text for evaluation only here"
    docs = spark.createDataFrame(
        [(9001, bench)], "doc_id bigint, text string"
    )
    # simulate the crash: doc leg committed, band leg never ran
    ev_store.save_docs(docs.join(minhash_signature(docs), "doc_id"))
    assert ev_bands._snapshot() is None
    # re-run completes the band leg
    assert build_eval_index(docs, ev_store, ev_bands) == 1
    assert ev_bands.read().count() > 0
    # and the gate now actually refuses a contaminated doc
    store = DocumentStore(spark, str(tmp_path / "store"), n_shards=2)
    bands = BandIndexStore(spark, str(tmp_path / "bands"), n_buckets=4)
    s = neardup_gate_batch(
        spark.createDataFrame([(1, bench)], "doc_id bigint, text string"),
        store,
        bands,
        threshold=0.9,
        eval_docstore=ev_store,
        eval_band_store=ev_bands,
    )
    assert s["dropped_contaminated"] == 1


def test_semantic_gate_batch_stats_and_stages(spark, tmp_path):
    """VERDICT r11 #6 — the streaming SEMANTIC gate (embedding analogue of
    the MinHash band gate): (a) first batch accepts everything distinct
    and trains the index; (b) an in-batch exact-copy collapses to the
    lowest id; (c) a later batch's copy of a STORED vector drops against
    the corpus via the committed-index lookup; (d) a redelivered id is a
    redelivery, not a duplicate; (e) a full batch replay converges to
    kept=0 with the stores unchanged. The stats identity
    arrived == kept + dropped_in_batch + dropped_vs_corpus + redelivered
    is pinned at every stage."""
    import numpy as np

    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import DocumentStore
    from binance_data_framework_spark.streaming.semantic_ingest import (
        semantic_gate_batch,
    )

    DIM, THRESH = 8, 0.95
    rng = np.random.RandomState(0)
    X = rng.randn(40, DIM)
    # precondition: the distinct fixture rows are NOT semantic duplicates
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    np.fill_diagonal(C, -1.0)
    assert C.max() < THRESH, "fixture precondition violated"

    def frame(pairs):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in pairs],
            "vec_id long, embedding array<double>",
        )

    vec_store = DocumentStore(
        spark, str(tmp_path / "vecs"), key_col="vec_id", n_shards=4
    )
    ann_store = AnnIndexStore(spark, str(tmp_path / "idx"))
    kw = dict(
        threshold=THRESH,
        dim=DIM,
        ann_build_kwargs=dict(dim=DIM, n_centroids=4, m_sub=4, ksub=4),
    )

    def pinned(stats):
        assert stats["arrived"] == (
            stats["kept"]
            + stats["dropped_in_batch"]
            + stats["dropped_vs_corpus"]
            + stats["redelivered"]
        ), stats
        return stats

    # batch 1: rows 0..29 plus an in-batch exact copy of row 0 under id 100
    b1 = frame([(i, X[i]) for i in range(30)] + [(100, X[0])])
    s1 = pinned(semantic_gate_batch(b1, vec_store, ann_store, **kw))
    assert s1["arrived"] == 31 and s1["dropped_in_batch"] == 1
    assert s1["kept"] == 30 and s1["dropped_vs_corpus"] == 0
    assert s1["redelivered"] == 0 and s1["index_version"] == 1
    assert vec_store.read().count() == 30
    assert 100 not in {r["vec_id"] for r in vec_store.read().collect()}

    # batch 2: 3 new rows, one copy of STORED row 5 (new id 200), one
    # redelivery of row 7 (same id, same vector)
    b2 = frame(
        [(i, X[i]) for i in range(30, 33)] + [(200, X[5]), (7, X[7])]
    )
    s2 = pinned(semantic_gate_batch(b2, vec_store, ann_store, **kw))
    assert s2["arrived"] == 5 and s2["dropped_in_batch"] == 0
    assert s2["redelivered"] == 1 and s2["dropped_vs_corpus"] == 1
    assert s2["kept"] == 3
    assert vec_store.read().count() == 33
    assert ann_store.load().n_vectors == 33

    # batch 2 replayed verbatim (checkpoint redelivery): the 3 accepted
    # rows are now redeliveries, the corpus dup still drops, nothing lands
    s3 = pinned(semantic_gate_batch(b2, vec_store, ann_store, **kw))
    assert s3["kept"] == 0 and s3["redelivered"] == 4
    assert s3["dropped_vs_corpus"] == 1 and s3["dropped_in_batch"] == 0
    assert vec_store.read().count() == 33
    assert ann_store.load().n_vectors == 33
    assert ann_store.load().version == s2["index_version"]


def test_stream_semantic_ingest_wrapper(spark, tmp_path):
    """The foreachBatch wrapper: an availableNow pass over a file-source
    embedding stream lands survivors in both stores and writes one pinned
    stats row per batch (replayable — partitioned by batch_id)."""
    import json as _json
    import numpy as np
    import pandas as pd

    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.docstore import DocumentStore
    from binance_data_framework_spark.streaming.semantic_ingest import (
        stream_semantic_ingest,
    )

    DIM = 8
    rng = np.random.RandomState(0)
    X = rng.randn(20, DIM)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {"vec_id": range(20), "embedding": [list(map(float, v)) for v in X]}
    ).to_parquet(f"{src}/b0.parquet", index=False)

    vec_store = DocumentStore(
        spark, str(tmp_path / "vecs"), key_col="vec_id", n_shards=4
    )
    ann_store = AnnIndexStore(spark, str(tmp_path / "idx"))
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(str(src))
    q = stream_semantic_ingest(
        stream,
        vec_store,
        ann_store,
        str(tmp_path / "ckpt"),
        stats_path=str(tmp_path / "stats"),
        threshold=0.95,
        dim=DIM,
        ann_build_kwargs=dict(dim=DIM, n_centroids=4, m_sub=4, ksub=4),
    )
    q.awaitTermination(300)

    assert vec_store.read().count() == 20
    assert ann_store.load().n_vectors == 20
    stats = spark.read.json(str(tmp_path / "stats")).collect()
    assert len(stats) == 1
    s = stats[0].asDict()
    assert s["arrived"] == 20 and s["kept"] == 20
    assert s["arrived"] == (
        s["kept"] + s["dropped_in_batch"] + s["dropped_vs_corpus"]
        + s["redelivered"]
    )
