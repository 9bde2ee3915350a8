"""Physical-plan regression tests: the efficiency properties documented in
PLANS.md, asserted against the actual Catalyst output so they can't silently
regress. These don't run the queries — they inspect `.explain` strings."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.plans.registry import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_range_scan_pushes_predicates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_table_range")
    pushed = re.search(r"PushedFilters: \[([^\]]+)\]", plan)
    assert pushed, "no pushed filters reached the parquet scan"
    assert "GreaterThanOrEqual(ts" in pushed.group(1)  # range reaches row groups
    assert "EqualTo(event_type" in pushed.group(1)  # symbol equality pushed


def test_resample_is_single_pass_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "resample_ohlcv")
    # all OHLCV aggregates in ONE partial hash-agg before the exchange
    partial = re.search(r"Functions \[\d+\]: \[partial_[^\]]+\]", plan)
    assert partial, "no map-side partial aggregation"
    for fn in ("partial_min_by", "partial_max_by", "partial_max", "partial_min"):
        assert fn in partial.group(0), f"{fn} missing from the partial agg pass"
    # exactly one shuffle: partial agg -> exchange -> final agg
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1


def test_small_side_joins_broadcast(spark, sf_dir):
    for name in ("coverage_check", "lookup_export_meta", "gap_antijoin"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: small side not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"


def test_windows_are_keyed(spark, sf_dir):
    """No window may run over an unpartitioned full dataset (single-task
    funnel). The only allowed unkeyed windows are over provably-tiny
    aggregates (asof bucket timeline)."""
    for name in ("window_sma", "flagship_ohlcv_sma", "upsert_precedence", "dedup_exact"):
        plan = _plan(spark, sf_dir, name)
        for args in re.findall(r"\(\d+\) Window\b.*?Arguments: (.*?)\n", plan, re.S):
            assert re.search(r"windowspecdefinition\([^)]*?,", args) or "partitionBy" in args, (
                f"{name}: window spec appears unkeyed: {args[:120]}"
            )
        assert "No Partition Defined" not in plan


def test_text_ops_stay_jvm_side(spark, sf_dir):
    """Text analysis must not fall off the codegen path into Python."""
    for name in ("text_sentiment", "text_stats", "text_lang_id", "text_quality"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name}: unexpected pandas UDF"


def test_store_layout_prunes_partitions(spark, tmp_path):
    """The OhlcvStore physical layout must turn symbol/timeframe equality
    into PARTITION pruning (directory skip), not just row-group filters."""
    from datetime import datetime, timedelta

    from binance_data_framework_spark.store import OhlcvStore

    store = OhlcvStore(spark, str(tmp_path / "ohlcv"))
    t0 = datetime(2024, 1, 1)
    for sym in ("AAA", "BBB"):
        bars = spark.createDataFrame(
            [(t0 + timedelta(hours=i), 1.0, 2.0, 0.5, 1.5, 10.0) for i in range(4)],
            "ts timestamp, open double, high double, low double, close double, volume double",
        )
        store.save_data(bars, sym, "1h")
    plan = (
        store.get_data("AAA", "1h")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "symbol" in m.group(1) and "timeframe" in m.group(1), (
        f"partition filters missing: {m.group(1) if m else plan[:400]}"
    )


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join with NO shuffle: the
    amortized-shuffle pattern for repeated big-big joins at 100 TB."""
    from binance_data_framework_spark.sources.bucketed import read_table, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
        write_bucketed(a, "bt_a", "k", n_buckets=4, sort_cols="k")
        write_bucketed(b, "bt_b", "k", n_buckets=4, sort_cols="k")
        joined = read_table(spark, "bt_a").join(read_table(spark, "bt_b"), on="k")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert not re.search(r"\n\(\d+\) Exchange\b", plan), "bucketed join shuffled"
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_coverage_check_session_tz_independent(spark, sf_dir):
    """The covered/not-covered verdicts must not depend on the session (or
    process) timezone — the driver may run the contract in any TZ. Guards the
    naive-datetime-literal regression (datetimes now tz-aware UTC)."""
    q = QUERIES["coverage_check"]
    utc = {(r["symbol"]): r["covered"] for r in q(spark, sf_dir).collect()}
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = {(r["symbol"]): r["covered"] for r in q(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert utc == ny
    assert utc == {"purchase": True, "click": False, "view": True, "nosuch": False}


def test_exact_topk_broadcasts_probes_not_candidates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_similarity")
    assert "BroadcastExchange" in plan  # probe set broadcast to candidates
    # exactly one shuffle (the per-probe top-k window); candidates never move
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1


def test_range_join_is_equi_join(spark, sf_dir):
    """The interval join must plan as a shuffled EQUI-join on the
    (bucket, user) key — never the nested-loop/cartesian Spark produces
    for a raw inequality predicate (O(L×R) at scale)."""
    plan = _plan(spark, sf_dir, "range_join_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curation_plan_shapes(spark, sf_dir):
    """Curation ops must keep their audited shuffle budget: packing and the
    per-stratum ops are ONE keyed exchange; decontamination joins the
    benchmark grams by BROADCAST (the corpus is never shuffled by gram)."""
    for name, max_exchanges in (
        ("pack_sequences", 1),
        ("sample_reservoir", 1),
        ("quality_quantile_filter", 1),
    ):
        plan = _plan(spark, sf_dir, name)
        n = len(re.findall(r"\n\(\d+\) Exchange\b", plan))
        assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges})"
    plan = _plan(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in plan, "decontaminate lost the broadcast gram join"


def test_tpch_q19_pushes_or_implications_to_both_scans(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q19")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p and "p_size" in p for p in pushed), (
        "part scan missing the extracted brand/size OR-implication"
    )
    assert any("l_quantity" in p for p in pushed), (
        "lineitem scan missing the extracted quantity OR-implication"
    )


def test_tpch_q13_outer_join_filter_on_nonpreserved_side_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q13")
    assert "LeftOuter" in plan
    # Catalyst pushes the non-key predicate into the ORDERS scan (legal for
    # the non-preserved side: non-matching orders drop pre-join, customer
    # rows survive as nulls). What must NOT happen is a post-join Filter on
    # the orders column — that would turn the join inner and silently drop
    # zero-order customers.
    assert re.search(
        r"PushedFilters: \[[^\]]*Not\(EqualTo\(o_orderpriority", plan
    ), "orders-side predicate not pushed to its scan"
    # the preserved (customer) side must NOT acquire any filter at all —
    # its scan detail block (up to the next node) has no PushedFilters line
    cust_block = plan[plan.find("customer.parquet") :]
    cust_block = cust_block[: cust_block.find("\n(")]
    assert "PushedFilters" not in cust_block


def test_anomaly_mad_is_broadcast_scored_no_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan  # grouped percentiles, not a sorted window


def test_dedup_substring_broadcasts_dup_gram_dictionary(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_substring")
    assert "BroadcastHashJoin" in plan, "dup-gram set should broadcast back"
    assert "PythonUDF" not in plan  # transform/slice/concat_ws stay in codegen


def test_pagerank_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_pagerank")
    assert "CartesianProduct" not in plan
    # r6: the probe-pair generation is the BLAS-screen kernel
    # (cosine_pairs_exact) — no nested-loop join remains anywhere
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_pairs_blas_screen_matches_hof_form(spark, sf_dir):
    """The BLAS-screened exact pair kernel must be OUTPUT-IDENTICAL to the
    interpreted-HOF broadcast-join formulation it replaced (same pairs,
    same bit-reproducible cosines) — the screen is a superset and the
    certify pass re-decides the threshold with the sequential dot."""
    from binance_data_framework_spark.operators import similarity as S
    from binance_data_framework_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = S.with_norm(emb)
    probes = base.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("id_a"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pn"),
    )
    from pyspark.sql.functions import broadcast

    hof = (
        base.join(broadcast(probes), F.col("vec_id") > F.col("id_a"))
        .withColumn(
            "cosine",
            S._dot(F.col("_pv"), F.col("_v")) / (F.col("_pn") * F.col("_norm")),
        )
        .where(F.col("cosine") >= 0.35)
        .select("id_a", F.col("vec_id").alias("id_b"), "cosine")
    )
    fast = S.cosine_pairs_exact(emb, F.col("vec_id") < 50, 0.35)
    a = {(r["id_a"], r["id_b"], r["cosine"]) for r in hof.collect()}
    b = {(r["id_a"], r["id_b"], r["cosine"]) for r in fast.collect()}
    assert a == b and len(a) > 0


def test_tpch_q4_semi_join_no_dedup_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4")
    assert "LeftSemi" in plan
    # EXISTS as semi join: the correlated residual lives IN the join, and no
    # Distinct/dedup aggregate is needed to recover per-order multiplicity
    assert re.search(r"Join condition: \(l_shipdate[^\n]*> o_orderdate", plan)
    assert len(re.findall(r"\n\(\d+\) Exchange\b", plan)) <= 3


def test_tpch_q22_scalar_subquery_and_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q22")
    assert "LeftAnti" in plan
    # the recent-orders side is pruned at the scan before the anti join
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)


@pytest.mark.slow
def test_whole_registry_plan_lint(spark, sf_dir):
    """Every registered query's physical plan is free of scale
    anti-patterns (cartesian products, row-at-a-time Python UDFs,
    non-allowlisted nested-loop joins, unkeyed windows) — the
    whole-registry sweep behind the targeted shape tests above."""
    from tools.lint_plans import lint

    bad = lint(sf_dir)
    assert not bad, f"plan lint violations: {bad}"


def test_substring_span_pipeline_lineage_is_clean(spark, sf_dir):
    """q_dedup_substring eager-checkpoints its span stream (two
    consumers), which truncates the committed plan to a Scan ExistingRDD
    — so the whole-registry lint cannot see the gram pipeline. This test
    lints the UN-checkpointed form (registry._substring_spans): one
    Arrow-batched kernel straight off the parquet scan — no Exchange, no
    row-at-a-time Python, no join."""
    from binance_data_framework_spark.plans.registry import _substring_spans
    from binance_data_framework_spark.sources.fixtures import load_table

    plan = (
        _substring_spans(load_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    for bad in ("Exchange", "BatchEvalPython", "CartesianProduct", "Join"):
        assert bad not in plan, f"{bad} in span pipeline plan"
    assert "Scan parquet" in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan  # the kernel


def test_substring_arrow_kernel_pinned_to_jvm_form(spark, sf_dir):
    """The Arrow rolling-hash span kernel and the JVM zip_with-tree form
    produce the SAME final per-doc dedup_substring output (gram keys
    differ by design — they never leave the computation)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from binance_data_framework_spark.plans.registry import (
        _substring_spans,
        _substring_spans_jvm,
    )
    from binance_data_framework_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (200001, "exactly seven tokens long not enough here"),  # 7 -> none
            (200002, "now eight tokens appear in this short doc ok"),
            (200003, None),
        ],
        "doc_id bigint, text string",
    )
    both = docs.unionByName(edge)

    def frac(spans):
        dupg = (
            spans.groupBy("g1", "g2")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .where(F.col("_mn") != F.col("_mx"))
            .select("g1", "g2")
        )
        return {
            (r["doc_id"], r["n"])
            for r in spans.join(broadcast(dupg), ["g1", "g2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    spans_a = _substring_spans(both)
    spans_j = _substring_spans_jvm(both)
    # identical span multiplicity per doc...
    a_counts = {
        (r["doc_id"], r["n"])
        for r in spans_a.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    j_counts = {
        (r["doc_id"], r["n"])
        for r in spans_j.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert a_counts == j_counts and len(a_counts) > 0
    # ...and identical per-doc duplicated-span counts (the query's output)
    assert frac(spans_a) == frac(spans_j)


def test_minhash_bucket_pipeline_lineage_is_clean(spark, sf_dir):
    """minhash_candidates eager-checkpoints its bucket stream (two size
    paths reference it under one unioned action — ADVICE r6), which
    truncates the committed plan to a Scan ExistingRDD, so the
    whole-registry lint cannot see the band/bucket pipeline. Lint the
    UN-checkpointed form (dedup._minhash_bucket_plan): explode + exactly
    ONE exchange (the band-key groupBy) — no Python eval, no join, no
    cartesian."""
    import re as _re

    from binance_data_framework_spark.operators import dedup as D
    from binance_data_framework_spark.sources.fixtures import load_table

    sigs = D.minhash_signature(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    plan = (
        D._minhash_bucket_plan(sigs)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    for bad in ("BatchEvalPython", "CartesianProduct", "Join"):
        assert bad not in plan, f"{bad} in minhash bucket pipeline plan"
    # one shuffle: the band-key groupBy (partial_collect_list on the map
    # side). The signature pipeline upstream is narrow.
    assert len(_re.findall(r"\n\(\d+\) Exchange\b", plan)) == 1
    assert "Generate" in plan  # the band posexplode
