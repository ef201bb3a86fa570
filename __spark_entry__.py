"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over sf0.001 documents
mapped into the pages shape.  ``queries()``/``oracle_sql()`` expose the face
registry in ``pdf_parser_spark/faces``: one record per face, holding its
Spark build and its DuckDB oracle SQL, in one module per family.  They cover
the SURVEY.md §2 relational operators, the training-data operators (dedup,
ANN, text stats, curation, multimodal), the crawl/lakehouse/link-graph
operators and TPC-H-style headline queries.  Float outputs are rounded to 4dp
on BOTH sides; integer outputs are BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark.faces import RUN_TS, registry

__all__ = ["RUN_TS", "entry", "oracle_sql", "queries"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (mapInPandas Arrow stage + W1/W2
    relational post-processing) over sf0.001 + the synthetic filing corpus."""
    from pdf_parser_spark.faces.shared import docs_as_pages as _docs_as_pages
    from pdf_parser_spark.operators.consistency import finalize
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import synthetic_pages

    driver_pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    corpus = synthetic_pages(spark, n_docs=48).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    pages = driver_pages.unionByName(corpus)
    # persist: finalize consumes the extraction output in three plan branches
    # (W1 window, W2 groupBy, W2 broadcast build); without a materialization
    # point the Arrow stage would recompute 3x.  Batch jobs use the
    # checkpointed-sink shape instead (operators/pipeline.run_batch).
    extracted = extract_stage(pages, run_ts=RUN_TS).persist()
    final = finalize(extracted)
    return final.select(
        "url", "status", "report_type", "company_key", "filing_sequence",
        "period_end", "n_pages", "n_sections", "n_checks_pass", "n_checks_fail",
        "avg_confidence",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """face name -> build(spark, sf_dir) -> DataFrame, in registry order."""
    return {name: face.build for name, face in registry().items()}


def oracle_sql() -> dict[str, str]:
    """face name -> DuckDB SQL over the same sf dir's tables."""
    return {name: face.oracle for name, face in registry().items()}
