"""Physical-plan regression tests — the 100 TB contract, asserted.

Each test pins a plan property that matters at cluster scale and would
silently regress without failing any row-level test: column pruning before
the Arrow exchange, predicate/partition pushdown into parquet scans,
broadcast (not shuffle) joins for dimensions, and semi/anti join shapes that
carry only key columns.  Assertions read `.explain("formatted")` output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF001


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from pdf_parser_spark.sources.pages import synthetic_pages, write_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    write_pages(synthetic_pages(spark, n_docs=24), path, buckets=2)
    return path


@pytest.fixture(scope="module")
def extracted_parquet(spark, pages_parquet, tmp_path_factory):
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import read_pages

    path = str(tmp_path_factory.mktemp("plans") / "extracted")
    (
        extract_stage(read_pages(spark, pages_parquet), run_ts="t")
        .withColumn("run_id", F.lit("r"))
        .write.partitionBy("status").parquet(path)
    )
    return path


def test_extraction_scan_prunes_to_arrow_columns(spark, pages_parquet):
    """Only url/html/text may cross into Python; warc_ts/lang must be pruned
    AT THE SCAN (ReadSchema), not dropped after deserialization — at 10^12
    rows reading an unused timestamp column is real I/O."""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import read_pages

    p = plan(extract_stage(read_pages(spark, pages_parquet), run_ts="t"))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    line = scan[0]
    assert "url" in line and "html" in line and "text" in line, line
    assert "warc_ts" not in line and "lang" not in line, line


def test_relational_stage_never_rereads_markdown(spark, extracted_parquet):
    """finalize consumes the checkpointed sink; its scans must prune away the
    fat markdown column (the whole point of materializing between stages)."""
    from pdf_parser_spark.operators.consistency import finalize
    from pdf_parser_spark.operators.pipeline import CONSISTENCY_COLS

    mat = spark.read.parquet(extracted_parquet)
    p = plan(finalize(mat).select(*CONSISTENCY_COLS))
    for ln in p.splitlines():
        if "ReadSchema" in ln:
            assert "markdown" not in ln, ln
            assert "spans" not in ln, ln


def test_w2_mapping_join_is_broadcast(spark, extracted_parquet):
    """The label->canonical dictionary is taxonomy-bounded (tiny at any SF):
    joining it back must be a BroadcastHashJoin, never a shuffle of the
    exploded fact side."""
    from pdf_parser_spark.operators.consistency import consistent_mappings

    p = plan(consistent_mappings(spark.read.parquet(extracted_parquet)))
    assert "BroadcastHashJoin" in p, p


def test_status_partition_pruning(spark, extracted_parquet):
    """Failed-row triage reads ONLY the error partition directory."""
    df = spark.read.parquet(extracted_parquet).where(F.col("status") == "error")
    p = plan(df.select("url"))
    assert "PartitionFilters" in p, p
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln][0]
    assert "status" in pf, pf


def test_q6_filters_push_to_scan(spark):
    """Q6's predicates must reach the parquet reader (PushedFilters) so
    row-group zone maps can skip data at scale."""
    from pdf_parser_spark.plans.relational import q6_forecast_revenue

    p = plan(q6_forecast_revenue(spark, SF001))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    assert "l_shipdate" in line and "l_discount" in line and "l_quantity" in line, line


def test_q5_dimension_joins_broadcast(spark):
    """nation/region (constant-size dims) must broadcast — a shuffle join on
    a 5-row table at 100 TB would shuffle the whole fact side."""
    from pdf_parser_spark.plans.relational import q5_region_revenue

    p = plan(q5_region_revenue(spark, SF001))
    assert p.count("BroadcastHashJoin") >= 2, p


def test_q4_semi_join_carries_key_only(spark):
    """The EXISTS rewrite must be LeftSemi and its build side must project
    only the join key (no payload columns shuffled)."""
    from pdf_parser_spark.plans.relational import q4_order_priority

    p = plan(q4_order_priority(spark, SF001))
    assert "LeftSemi" in p, p
    for ln in p.splitlines():
        if "ReadSchema" in ln and "l_orderkey" in ln:
            assert "l_extendedprice" not in ln and "l_quantity" not in ln, ln


def test_q22_anti_join_and_scalar_broadcast(spark):
    """NOT EXISTS -> LeftAnti; the global-average comparison must be a
    broadcast (nested loop over ONE row), never a driver collect."""
    from pdf_parser_spark.plans.relational import q22_dormant_customers

    p = plan(q22_dormant_customers(spark, SF001))
    assert "LeftAnti" in p, p
    assert "Broadcast" in p, p


def test_extraction_has_single_shuffle(spark, pages_parquet):
    """extract_stage = salted repartition + mapInPandas: exactly ONE Exchange
    in the narrow stage (the explicit salt repartition), nothing else."""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import read_pages

    p = plan(extract_stage(read_pages(spark, pages_parquet), run_ts="t"))
    tree = p.split("\n\n")[0]  # the tree section; details repeat node names
    assert tree.count("Exchange") == 1, p


def test_partition_count_sizes_by_rows():
    """The extraction stage's task count: about one task per ROWS_PER_TASK
    rows in whole waves of one task per core, never fewer than one wave,
    never more than TASKS_PER_CORE waves."""
    from pdf_parser_spark.operators.extract import (
        ROWS_PER_TASK, TASKS_PER_CORE, partition_count,
    )

    p = 4
    wave = p * ROWS_PER_TASK
    assert partition_count(0, p) == p
    assert partition_count(ROWS_PER_TASK - 1, p) == p
    assert partition_count(1_600, p) == p
    assert partition_count(wave, p) == p
    # just past a wave: a second whole wave, not one straggler task
    assert partition_count(wave + 1, p) == 2 * p
    assert partition_count(5 * wave, p) == 5 * p
    assert partition_count(TASKS_PER_CORE * wave, p) == TASKS_PER_CORE * p
    assert partition_count(TASKS_PER_CORE * wave + 1, p) == TASKS_PER_CORE * p
    assert partition_count(10**9, p) == TASKS_PER_CORE * p
    assert partition_count(153_600, 32) == 3 * 32


def test_extract_stage_partitions_follow_rows(spark):
    """24 rows run as one wave of defaultParallelism tasks; an explicit
    num_partitions still wins."""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import synthetic_pages

    pages = synthetic_pages(spark, n_docs=24)
    p = spark.sparkContext.defaultParallelism
    assert extract_stage(pages, run_ts="t").rdd.getNumPartitions() == p
    ext = extract_stage(pages, run_ts="t", num_partitions=16)
    assert ext.rdd.getNumPartitions() == 16


def test_salted_repartition_spreads_heavy_host(spark):
    """The synthetic corpus puts ~30% of urls on one heavy host.  After the
    salted xxhash64 repartition no partition may hold more than ~3x the mean
    row count — the map-stage skew bound that keeps one executor from
    becoming the straggler at 10^12 rows."""
    from pdf_parser_spark.operators.extract import salted_repartition
    from pdf_parser_spark.sources.pages import synthetic_pages

    pages = synthetic_pages(spark, n_docs=640)
    parts = salted_repartition(pages, num_partitions=16)
    sizes = (
        parts.rdd.glom().map(len).collect()
    )
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 3 * mean, sizes
    # and the heavy host itself is spread across many partitions
    heavy = parts.where(F.col("url").contains("example-heavy"))
    n_parts_with_heavy = (
        heavy.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_parts_with_heavy >= 8, n_parts_with_heavy


def test_aqe_skew_join_splits_giant_key(spark):
    """The AQE half of the skew story next to the salt (the north rule
    names both): an engineered join where ONE key holds ~95% of the fact
    rows must trigger OptimizeSkewedJoin — the skewed partition is split
    into subpartitions at runtime (isSkew=true in the final plan) instead
    of landing on one straggler reducer.  Thresholds are lowered to make
    the toy partition 'huge'; production defaults fire at 256MB the same
    way."""
    fact = spark.range(0, 40_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 40_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr"))
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # keep the dim side out of broadcast so a SortMergeJoin happens
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        joined = fact.join(dim, "k")
        # collect() (not count()) so THIS QueryExecution runs to its final
        # adaptive plan — count() executes a different (aggregated) plan
        # and leaves this one at isFinalPlan=false
        assert len(joined.collect()) == 40_000  # correctness first
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q21_semi_anti_join_shapes(spark):
    """Q21's EXISTS/NOT-EXISTS legs must compile to LeftSemi/LeftAnti joins
    (no row multiplication) and the supplier dim must broadcast."""
    from pdf_parser_spark.plans.relational import q21_lone_returning_supplier

    p = plan(q21_lone_returning_supplier(spark, SF001))
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p
    assert "BroadcastExchange" in p, p


def test_q17_correlated_agg_is_join_not_subquery_per_row(spark):
    """The correlated scalar avg decorrelates to ONE per-part aggregate
    joined back (a partial_avg appears exactly once; no nested-loop join)."""
    from pdf_parser_spark.plans.relational import q17_small_quantity_revenue

    p = plan(q17_small_quantity_revenue(spark, SF001))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert p.count("partial_avg") == 1, p


def test_q20_semi_join_carries_key_only(spark):
    """The nested-IN collapses to a LEFT SEMI whose build side projects only
    the supplier key (no fat columns cross the exchange)."""
    from pdf_parser_spark.plans.relational import q20_promo_volume_suppliers

    p = plan(q20_promo_volume_suppliers(spark, SF001))
    assert "LeftSemi" in p, p


def test_q16_not_in_is_anti_join(spark):
    from pdf_parser_spark.plans.relational import q16_supplier_diversity

    p = plan(q16_supplier_diversity(spark, SF001))
    assert "LeftAnti" in p, p
    assert "distinct" in p.lower(), p


def test_curation_plans_broadcast_dims_and_no_cartesian(spark):
    """Decontamination must broadcast the benchmark shingles; stratified
    sampling must broadcast the rate dim; LM coverage must broadcast the
    vocab; incremental dedup must contain no cartesian product anywhere —
    its index joins are key joins at corpus scale."""
    from pdf_parser_spark.operators import curation

    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    p = plan(curation.decontaminate(docs, curation.benchmark_snippets(docs)))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p

    p = plan(curation.stratified_sample(docs))
    assert "BroadcastHashJoin" in p, p

    p = plan(curation.lm_coverage(docs, curation.fit_vocab(docs)))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p

    p = plan(curation.incremental_dedup(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # the exact-fp and band membership checks must be semi joins (key-only
    # build sides), not inner joins carrying payload columns
    assert "LeftSemi" in p, p


def test_redirect_resolution_plans_are_key_joins(spark):
    """resolve_redirects / canonical_url_groups: every join is an equi join
    on a url key (pointer doubling, terminal-ness membership, per-doc
    mapping) — no cartesian or nested-loop anywhere, and the group rollup
    partial-aggregates map-side."""
    from pdf_parser_spark.operators import weburl

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    p = plan(weburl.resolve_redirects(weburl.with_synthetic_redirects(docs)))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    p = plan(weburl.canonical_url_groups(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "partial_count" in p or "HashAggregate" in p, p


def test_decontaminate_bloom_prefilter_adds_no_shuffle(spark):
    """The Bloom prefilter is a narrow stage: vs the exact path it may add
    ONLY an ArrowEvalPython probe inside the scan stage — identical
    Exchange count, still broadcast semi-join verify, never a cartesian.
    (The whole point is cutting broadcast/join volume, not adding passes.)"""
    import re as _re

    from pdf_parser_spark.operators import curation

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    bench = curation.benchmark_snippets(docs)
    p_exact = plan(curation.decontaminate(docs, bench))
    p_bloom = plan(curation.decontaminate_bloom(docs, bench))
    n_ex = len(_re.findall(r"\(\d+\) Exchange", p_exact))
    n_bl = len(_re.findall(r"\(\d+\) Exchange", p_bloom))
    assert n_bl == n_ex, (n_bl, n_ex, p_bloom)
    assert "ArrowEvalPython" in p_bloom, p_bloom
    assert "ArrowEvalPython" not in p_exact, p_exact
    assert "BroadcastHashJoin" in p_bloom or "BroadcastExchange" in p_bloom, p_bloom
    assert "CartesianProduct" not in p_bloom, p_bloom


def test_line_dedup_broadcast_vs_shuffle_knob(spark):
    """broadcast_hot=True must broadcast the heavy-line set into the
    anti-join; False must NOT (shuffle join is the corpus-scale path where
    the duplicated-line set is itself corpus-sized).  Neither may build a
    cartesian product."""
    from pdf_parser_spark.operators import curation

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    ml = curation.with_synthetic_lines(docs)

    p = plan(curation.line_dedup(ml))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p

    p = plan(curation.line_dedup(ml, broadcast_hot=False))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_quality_tiers_histogram_join_is_broadcast_not_global_sort(spark):
    """The tier map is a <=10001-row histogram dim -> must broadcast back;
    the per-row side must NOT pass through a single-partition global sort
    (the whole point vs ntile)."""
    from pdf_parser_spark.operators import curation, textstats

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    scored = textstats.quality_score(docs).select("doc_id", "quality")
    p = plan(curation.quality_tiers(scored))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_head_meta_is_single_projection_no_exchange(spark):
    """Five regex fields must come out of one codegen'd projection: no
    shuffle exchange anywhere before the (presentation-only) sort."""
    from pdf_parser_spark.operators import htmlmeta

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    p = plan(htmlmeta.head_meta(htmlmeta.with_head_html(docs)))
    # the only exchange allowed is the final orderBy's rangepartitioning
    assert "hashpartitioning" not in p, p
    assert "rangepartitioning" in p, p
    # narrow pipeline: scan -> synth projection -> extract projection
    assert p.count("Project") >= 2 and "Scan parquet" in p, p


def test_scd2_single_doc_id_shuffle_serves_windows_and_groupby(spark):
    """lag window, running-sum window, and the interval groupBy all key on
    doc_id — exactly one hashpartitioning(doc_id) exchange may appear."""
    from pdf_parser_spark.operators import snapshot

    # repartition round-robin so the single-file scan doesn't trivially
    # satisfy the clustering requirement (a 1-partition input needs no
    # exchange at all — not the shape that matters at scale)
    docs = spark.read.parquet(f"{SF001}/documents.parquet").repartition(8)
    p = plan(snapshot.scd2_history(snapshot.snapshot_series(docs)))
    n = p.count("hashpartitioning(doc_id")
    assert n == 1, f"expected 1 doc_id exchange, saw {n}\n{p}"


def test_frontier_broadcasts_dims_no_cartesian(spark):
    """The frontier composition must broadcast the host-sized robots rules
    and suffix dims and contain no cartesian product; the doc_id fact
    joins stay hash joins."""
    from pdf_parser_spark.operators import linkgraph as lg

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    p = plan(lg.frontier_schedule(docs, iterations=1))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_salt_spreads_recrawl_duplicates_vs_unsalted(spark):
    """The with/without-salt evidence the north rule's 'salted repartition
    for skewed hosts' names (r2 verdict item 5): a heavy host's front page
    recrawled 200x (content drifting per fetch) lands on ONE task under
    pure xxhash64(url) — the content-derived salt spreads it across the
    salt buckets, flattening per-task input-row counts."""
    from pdf_parser_spark.operators.extract import salted_repartition

    rows = [("https://heavy.example.com/", f"fetch {i} of the front page body")
            for i in range(200)]
    rows += [(f"https://ok{i}.example.com/p", f"doc body {i}") for i in range(100)]
    pages = spark.createDataFrame(rows, "url string, text string")

    def heavy_spread(df):
        return (
            df.where(F.col("url") == "https://heavy.example.com/")
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p").count().collect()
        )

    unsalted = heavy_spread(pages.repartition(16, F.xxhash64("url")))
    assert len(unsalted) == 1 and unsalted[0]["count"] == 200  # the straggler

    salted = heavy_spread(salted_repartition(pages, num_partitions=16))
    assert len(salted) >= 5, salted  # spread across the salt buckets...
    assert max(r["count"] for r in salted) <= 60, salted  # ...and flattened


def test_chunk_windows_zero_dataflow_exchange_and_mixture_shapes(spark):
    """chunk_windows must never shuffle the corpus: its ONLY Exchange is the
    rangepartitioning of the final presentation orderBy — the fan-out itself
    is an in-scan Generate.  mixture_resample's corpus-side joins are
    broadcasts of the rate dim; its groupBy shuffles only the map-side
    partially-aggregated #sources rows; the copy fan-out is an explode,
    never a cartesian."""
    from pdf_parser_spark.operators import curation

    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    p = plan(curation.chunk_windows(docs))
    assert "Generate" in p, p                       # the explode fan-out
    assert "CartesianProduct" not in p, p
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "rangepartitioning" in p and "hashpartitioning" not in p, p

    p = plan(curation.mixture_resample(docs))
    assert "BroadcastHashJoin" in p, p              # rates dim joins broadcast
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Generate" in p, p                       # sequence-explode copies
    # the dim-building agg must combine map-side (a partial aggregate
    # upstream of its exchange), so the source-key shuffle moves
    # #sources x #tasks rows, not the corpus
    assert "partial_sum" in p or "partial" in p.lower(), p


def test_dup_spans_dsir_paragraph_tag_shapes(spark):
    """dup_spans: the window fan-out is an in-scan Generate (never a
    shuffle); its dataflow shuffles are the fp groupBy and the per-doc
    islands window/agg — and the hot-fp membership check must be a
    broadcast semi join (key-only), with no cartesian anywhere.  dsir's
    bucket dim must come back as a BroadcastHashJoin with a partial
    (map-side) aggregate under the dim's exchange.  paragraph_tags must be
    a pure in-scan Generate: its only Exchange is the presentation
    orderBy's rangepartitioning."""
    import re as _re

    from pdf_parser_spark.operators import curation, dedup

    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    p = plan(dedup.dup_spans(dedup.with_shared_passage(docs)))
    assert "Generate" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "LeftSemi" in p, p
    assert "BroadcastExchange" in p, p  # hot-fp set broadcast by default

    p = plan(curation.dsir_select(docs))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "partial" in p.lower(), p  # map-side combine under the dim agg

    p = plan(curation.paragraph_tags(curation.with_synthetic_lines(docs)))
    assert "Generate" in p, p
    assert len(_re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "rangepartitioning" in p and "hashpartitioning" not in p, p


def test_corpus_build_semi_join_chain_no_cartesian(spark):
    """The composed build must chain key-only semi joins between stages
    and contain no cartesian/nested-loop join anywhere."""
    from pdf_parser_spark.operators import curation

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    p = plan(curation.corpus_build(docs))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_r4s4_web_ops_broadcast_and_no_cartesian(spark):
    """Session-4 web operators keep the dimension side broadcast and the
    corpus side shuffle-free: soft404's host template dim broadcasts;
    typosquat's defended postings broadcast in BOTH channels with no
    cartesian anywhere; phrase search pairs via hash equi-joins with
    broadcast query-term prefilters, never a nested loop."""
    from pdf_parser_spark.operators import textstats, weburl

    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    p = plan(weburl.soft404_audit(weburl.with_fetch_log(docs)))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p

    p = plan(weburl.typosquat_audit(weburl.with_brand_domains(docs)))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p

    p = plan(textstats.phrase_search(docs, textstats.phrase_queries(docs)))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "Generate" in p, p  # posexplode stays a narrow in-scan fan-out


def test_r4s4_dispatch_filters_before_arrow(spark):
    """The ingest dispatcher's pdf branch must place its kind FILTER
    before the Arrow stage, so only pdf rows cross into Python (format
    dispatch as partition pruning)."""
    from pdf_parser_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    # the public face eagerly localCheckpoints (collapsing its plan to a
    # Scan) and releases the base cache; assert on the lazy builder
    out, base = mm._ingest_dispatch_lazy(mm.synthetic_mixed_media(docs))
    p = plan(out)
    base.unpersist()
    import re as _re

    assert "CartesianProduct" not in p, p
    # exactly TWO Python stages exist: the byte synthesis and the pdf
    # parse — no other branch pays an Arrow hop
    assert len(set(_re.findall(r"\(\d+\) MapInPandas", p))) == 2, p
    # and the pdf parse sits above an explicit kind = pdf filter, so only
    # pdf rows cross into Python
    assert _re.search(r"Condition : \(kind#\d+ = pdf\)", p), p


def test_r4s4_ranking_and_audit_plans(spark):
    """Second session-4 batch: BM25F's query dim broadcasts and nothing
    non-broadcast goes cartesian (the 1-row stats scalar rides a
    broadcast nested loop by design); MMR's greedy rounds are keyed hash
    joins over keyed slivers (not plan-assertable post-hoc: its eager
    localCheckpoint collapses the returned frame to a Scan, so MMR's
    shape is covered by its row-level tests instead); the leakage audit
    and change magnitude stay in keyed joins end to end."""
    from pdf_parser_spark.operators import curation, snapshot, textstats

    docs = spark.read.parquet(f"{SF001}/documents.parquet")

    p = plan(textstats.bm25f_topk(docs, textstats.with_anchor_field(docs)))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p

    p = plan(curation.leakage_audit(docs))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p

    p = plan(snapshot.change_magnitude(*snapshot.demo_text_snapshots(docs)))
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "FullOuter" in p, p  # the field merge is a keyed full-outer
