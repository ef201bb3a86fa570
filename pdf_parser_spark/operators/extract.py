"""Stage 1: the vectorized extraction stage (mapInPandas over Arrow batches).

One narrow stage applies core.extract_document to every row of the pages
table — extraction, repair, classification, segmentation, table collapse,
normalization tiers 1-2, validation, confidence, assembly — with no shuffle
(SURVEY.md §3.1 Spark lifecycle).  Fail-soft per row: status/error columns,
never a stage failure.

Skew handling (north_rule): upstream of the stage, rows are repartitioned by
``xxhash64(url, salt)`` where the salt spreads documents of heavy hosts across
partitions; Arrow batch size is bounded in session.py because rows are fat.
Task count follows the input's row count (``partition_count``): every PySpark
task pays a fixed round-trip of ~250 ms or more, so the stage gets about one
task per ROWS_PER_TASK rows (~8 s of kernel at ~4 ms/doc) in whole waves of
one task per core, clamped so that small inputs run in one wave and large ones
in at most TASKS_PER_CORE waves, which amortizes the straggler tail.
(Salting redistributes the skewed units BEFORE the stage — the static
counterpart of DS2's runtime data stealing, ICDE 2021, PAPERS.md; the
batch-at-a-time Arrow transfer is the vectorized-UDF execution model of
"Accelerating Python UDFs in Vectorized Query Execution", CIDR 2022.)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Sizing of the extraction stage (see partition_count).
ROWS_PER_TASK = 2048
TASKS_PER_CORE = 12

RESULT_SCHEMA = """
    url string,
    status string,
    error string,
    report_type string,
    markdown string,
    mappings map<string,string>,
    company string,
    ticker string,
    cik string,
    filing_type string,
    period_end string,
    period_type string,
    fiscal_year string,
    scale string,
    source string,
    statement_values map<string,double>,
    spans array<struct<section:string,start:long,end:long>>,
    n_pages int,
    n_sections int,
    n_tables int,
    n_unmapped int,
    n_checks_pass int,
    n_checks_warn int,
    n_checks_fail int,
    avg_confidence double
"""

_RESULT_COLUMNS = [
    "url", "status", "error", "report_type", "markdown", "mappings",
    "company", "ticker", "cik", "filing_type", "period_end", "period_type",
    "fiscal_year", "scale", "source", "statement_values", "spans",
    "n_pages", "n_sections",
    "n_tables", "n_unmapped", "n_checks_pass", "n_checks_warn",
    "n_checks_fail", "avg_confidence",
]


def _extract_batches(run_ts: str):
    """Closure factory: the Arrow-batch worker.  Imports stay inside so the
    function pickles cheaply; the taxonomy alias index is built once per
    worker process (lru_cache) — the broadcast-dictionary pattern."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_parser_spark.core.document import extract_document

        for pdf in batches:
            htmls = pdf["html"] if "html" in pdf else None
            texts = pdf["text"] if "text" in pdf else None
            records = []
            for i in range(len(pdf)):
                url = pdf["url"].iat[i]
                html = htmls.iat[i] if htmls is not None else None
                text = texts.iat[i] if texts is not None else None
                records.append(extract_document(url, html, text, run_ts))
            out = pd.DataFrame.from_records(records, columns=_RESULT_COLUMNS)
            yield out

    return fn


def partition_count(rows: int, parallelism: int) -> int:
    """Extraction-stage task count for ``rows`` input rows on
    ``parallelism`` cores: about one task per ROWS_PER_TASK rows, rounded
    up to whole waves of ``parallelism`` tasks and clamped to
    [1, TASKS_PER_CORE] waves.

    One wave keeps every core busy however small the input; the cap is
    the straggler bound.  Per-document cost varies ~10x with document
    family, so coarse tasks leave cores idle in the last wave: event-log
    analysis at 4 tasks/core measured 16% slot idle from the tail alone,
    and at 12 waves the tail amortizes to ~4% (the cluster-scale
    ``~10 x executors x cores`` sizing for skewed Python-heavy stages).
    Whole waves, because a part wave runs its few tasks with the other
    cores idle.  Between the two bounds the row count decides, because
    every PySpark task pays a fixed round-trip: a trivial mapInPandas
    task costs ~250 ms at local[1] against a 1.5 ms generator body, and
    48 trivial tasks take 3.6-4.0 s at local[4] against 0.34 s for 4.  A
    run_batch task also opens, writes and commits its own sink files, so
    its fixed cost is larger: at local[4] over 16,384-32,768 rows,
    2,048-row tasks ran 5-26% faster than 512-row tasks in each of four
    seed/size pairs (ROADMAP.md has the table).  At ~4 ms/doc a 2,048-row
    task runs ~8 s of kernel."""
    waves = -(-rows // (ROWS_PER_TASK * parallelism))
    return min(max(waves, 1), TASKS_PER_CORE) * parallelism


def salted_repartition(
    pages: DataFrame, num_partitions: int | None = None, salt_buckets: int = 8
) -> DataFrame:
    """Repartition by xxhash64(url) + a content-derived per-row salt.

    xxhash64 already spreads DISTINCT urls uniformly (avalanche), so the
    skew that actually survives url hashing at 10^12 scale is the SAME url
    appearing many times — recrawls, mirror fetches, redirect duplicates: a
    heavy host's front page recrawled 10^6 times all lands on one task.
    The salt therefore mixes in what distinguishes those rows — the content
    columns' length and first bytes (one JVM hash over a 64-byte prefix, not
    a full-payload rehash of the corpus) — spreading recrawl copies across
    `salt_buckets` tasks.  Byte-identical duplicates are irreducible by ANY
    deterministic salt and are removed upstream by dedup_pages
    (operators/pipeline.py), which hashes the full payload anyway.  Cheap
    column ops — no Python; placement-only, so results never depend on it.

    Partition count defaults to ``partition_count`` of the input's row
    count, taken by one ``count()`` of ``pages``.  That count is a separate
    job which re-executes ``pages``' lineage: cheap for a parquet scan (no
    column is decoded), but a full pass when ``pages`` has shuffles or
    hashing upstream, so such callers size the stage from their source and
    pass ``num_partitions`` (``operators/pipeline.run_batch`` does).  An
    explicit ``num_partitions`` skips the count."""
    n = num_partitions or partition_count(
        pages.count(), pages.sparkSession.sparkContext.defaultParallelism
    )
    salt_inputs = [F.col("url"), F.lit("salt")]
    for c in ("text", "html"):
        if c in pages.columns:
            salt_inputs += [
                F.length(F.col(c)),
                F.expr(f"substring({c}, 1, 64)"),
            ]
    salted = F.xxhash64(F.col("url")) + F.pmod(
        F.xxhash64(*salt_inputs), F.lit(salt_buckets)
    )
    return pages.repartition(n, salted)


def extract_stage(
    pages: DataFrame,
    run_ts: str = "",
    repartition: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted results DataFrame.

    Column pruning: only url/html/text cross the Arrow boundary; warc_ts/lang
    are re-joined by the caller when needed (they never enter Python)."""
    cols = [c for c in ("url", "html", "text") if c in pages.columns]
    narrow = pages.select(*cols)
    if repartition:
        narrow = salted_repartition(narrow, num_partitions)
    return narrow.mapInPandas(_extract_batches(run_ts), schema=RESULT_SCHEMA)
