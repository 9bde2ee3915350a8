"""`ingest_gate`: micro-batches of documents through the near-dup gate.

Setup creates a `DocumentStore`, a `BandIndexStore` and an `AnnIndexStore`
(auto-sharded and auto-bucketed, as the gate runs in production) and seeds
them with one gate batch of fresh documents, which also trains the ANN
index and warms the gate. Each timed batch holds
fresh documents, exact copies of stored documents under new ids and
redeliveries of stored documents (same id, same text), all chosen by the
seed. The gate must keep the fresh documents and the redeliveries, store
only the fresh ones and drop every copy.
"""

from __future__ import annotations

import os

from perfbench.common import Op
from perfbench.datagen import DocStream

COPY_ID_BASE = 1_000_000_000
# (seed documents, then per batch: fresh documents, copies, redeliveries);
# smoke mode uses the second
SIZES = {False: (150, 15, 3, 2), True: (60, 20, 3, 3)}


class IngestGate:
    def __init__(self, ctx):
        from binance_data_framework_spark.ann_index import AnnIndexStore
        from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore

        n_seed, n_fresh, n_copies, n_redeliveries = SIZES[ctx.smoke]
        self.ctx = ctx
        self.n_seed, self.n_fresh = n_seed, n_fresh
        self.n_copies, self.n_redeliveries = n_copies, n_redeliveries
        self.stream = DocStream(ctx.seed)
        self.root = os.path.join(ctx.work, "ingest")
        spark = ctx.spark
        self.docs = DocumentStore(spark, f"{self.root}/docs", n_shards=None)
        self.bands = BandIndexStore(spark, f"{self.root}/bands", n_buckets=None)
        self.ann = AnnIndexStore(spark, f"{self.root}/ann", id_col="doc_id", vec_col="embedding")
        self.n_stored = 0  # documents the store must hold
        self.next_copy = COPY_ID_BASE
        self.stage_sec: dict[str, float] = {}

    def store_roots(self) -> list[str]:
        return [self.root]

    def _frame(self, rows):
        return self.ctx.spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")

    def _gate(self, df) -> dict:
        from binance_data_framework_spark.streaming.neardup_ingest import neardup_gate_batch

        with self.ctx.span("streaming", "neardup_gate_batch"):
            return neardup_gate_batch(df, self.docs, self.bands, ann_store=self.ann)

    def setup(self) -> None:
        with self.ctx.phase("seed"):
            stats = self._gate(self._frame(self.stream.fresh(self.n_seed)))
            self.n_stored += stats["saved"]

    def next_op(self) -> Op:
        stored = self.n_stored
        sample = self.stream.stored_sample(self.n_copies + self.n_redeliveries, stored)
        copies = []
        for _, text, vec in sample[: self.n_copies]:
            copies.append((self.next_copy, text, vec))
            self.next_copy += 1
        rows = self.stream.fresh(self.n_fresh) + copies + sample[self.n_copies :]
        order = self.ctx.rng.permutation(len(rows))
        df = self._frame([rows[i] for i in order])
        want = {
            "arrived": len(rows),
            "kept": self.n_fresh + self.n_redeliveries,
            "saved": self.n_fresh,
            "dropped_in_batch": 0,
            "dropped_contaminated": 0,
            "dropped_vs_corpus": self.n_copies,
        }

        def check(stats) -> bool:
            for k, v in (stats.get("stage_sec") or {}).items():
                self.stage_sec[k] = self.stage_sec.get(k, 0.0) + v
            if stats["saved"] > 0:
                self.n_stored += stats["saved"]
            return all(stats[k] == v for k, v in want.items())

        return Op("batch", lambda: self._gate(df), check)

    def at_boundary(self) -> bool:
        return True

    def final_check(self, ops) -> list[str]:
        """The store holds every saved document and no planted copy."""
        from pyspark.sql import functions as F

        bad = []
        row = self.docs.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("doc_id") >= COPY_ID_BASE).cast("long")).alias("copies"),
        ).first()
        n, copies = row["n"], row["copies"]
        if n != self.n_stored:
            bad.append(f"document store holds {n} rows, expected {self.n_stored}")
        if copies:
            bad.append(f"{copies} planted copies were stored")
        return bad

    def counters(self) -> dict:
        return {f"streaming.{k}_s": v for k, v in self.stage_sec.items()}
