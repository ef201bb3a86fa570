"""Extraction faces: the full pipeline, its incremental/lineage/WARC-corpus
compositions, the structural quality harness, boilerplate audit, and the
XBRL lookups cross-validated against extracted statement values."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import RUN_TS, Face
from pdf_parser_spark.faces.shared import (
    corpus_chain_for,
    docs_as_pages,
    extract_cte,
    read_docs,
)
from pdf_parser_spark.operators import curation as C, htmlmeta
from pdf_parser_spark.operators.consistency import finalize
from pdf_parser_spark.operators.extract import extract_stage
from pdf_parser_spark.operators.xbrl import CONCEPT_CANONICAL
from pdf_parser_spark.sources import expected as E, xbrl as X
from pdf_parser_spark.sources.corpus import COMPANIES


def _qc_structural(spark, sf_dir):
    """Fleet pass-rates of the reference's 9 output checks over the
    synthetic corpus (deterministic per seed; the oracle reads the
    per-check booleans frozen from the core path)."""
    from pdf_parser_spark.operators.quality import (
        quality_summary, structural_check_stage,
    )
    from pdf_parser_spark.sources.pages import synthetic_pages

    ext = extract_stage(
        synthetic_pages(spark, 96), run_ts=RUN_TS
    ).where("status = 'ok'")
    return quality_summary(structural_check_stage(ext))


def _x_accession(spark, sf_dir):
    from pdf_parser_spark.operators.xbrl import accession_lookup
    from pdf_parser_spark.sources import xbrl as X

    req = spark.createDataFrame(X.requests_rows(), X.REQUESTS_SCHEMA)
    # dates as ISO strings: pandas widens DATE to timestamp in the
    # driver's DuckDB fetch, so a date-typed column can't hash-match
    return accession_lookup(req, X.submissions_df(spark)).withColumn(
        "report_date", F.col("report_date").cast("string")
    )


def _x_facts(spark, sf_dir):
    from pdf_parser_spark.operators.xbrl import statement_facts
    from pdf_parser_spark.sources import xbrl as X

    return (
        statement_facts(X.facts_df(spark))
        .withColumn("end_date", F.col("end_date").cast("string"))
        .withColumn("start_date", F.col("start_date").cast("string"))
    )


def _x_crossval(spark, sf_dir):
    from pdf_parser_spark.operators.xbrl import cross_validate
    from pdf_parser_spark.sources import xbrl as X

    xv = (
        X.facts_df(spark)
        .where(
            "unit = 'USD' AND segment IS NULL "
            "AND end_date = DATE '2024-12-31' AND start_date = DATE '2024-10-01'"
        )
        .select("cik", "concept", F.col("val").alias("xbrl_val"))
    )
    pdfv = spark.createDataFrame(X.pdf_values_rows(), X.PDF_VALUES_SCHEMA)
    return cross_validate(pdfv, xv)


def _x_fleet(spark, sf_dir):
    """Fleet-wide V8: extraction's exported statement_values broadcast-
    joined against the corpus-issuer facts dimension (the PDF side comes
    out of the Arrow extraction stage; the oracle reads it frozen from the
    core path)."""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.operators.xbrl import fleet_cross_validate
    from pdf_parser_spark.sources.pages import synthetic_pages
    from pdf_parser_spark.sources.xbrl import corpus_facts_df

    extracted = extract_stage(
        synthetic_pages(spark, n_docs=60), run_ts=RUN_TS
    )
    return fleet_cross_validate(extracted, corpus_facts_df(spark)).orderBy(
        "url", "concept"
    )


def _incremental_extract(spark, sf_dir):
    """The incremental-crawl composition: snapshot_diff picks the
    added/changed docs of the demo recrawl, and ONLY those cross the
    Arrow extraction stage — the driver hash then checks the extracted
    tuples against the frozen core-path expectations restricted to the
    same formula-defined set.  (diff -> re-extract is what the
    checkpoint/changefeed machinery exists to feed.)"""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.operators.snapshot import demo_snapshots, snapshot_diff

    docs = read_docs(spark, sf_dir)
    todo = (
        snapshot_diff(*demo_snapshots(docs))
        .where(F.col("change").isin("added", "changed"))
        .select("doc_id")
    )
    pages = docs_as_pages(spark, sf_dir).withColumn(
        "doc_id",
        F.regexp_extract("url", r"/([0-9]+)$", 1).cast("long"),
    ).join(todo, "doc_id").drop("doc_id")
    return extract_stage(pages, run_ts=RUN_TS).select(
        "url", "status", "report_type",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_sections").cast("long").alias("n_sections"),
    ).orderBy("url")


def _warc_ingest_corpus(spark, sf_dir):
    """The full crawl-to-corpus lifecycle under ONE hash (r3 verdict
    item 9): documents -> write_warc shards on disk -> the REGISTERED
    format('warc') DataSource read (Content-Length framing, real
    bytes) -> per-doc_id mixed-charset re-encode -> composed ingest
    chain (sniff-decode -> NFC -> hard gate) -> corpus_build (gate ->
    exact dedup -> decontaminate -> stratified sample -> shard pack)
    over EXACTLY the text the ingest chain decoded.  Output: the
    packed survivors with their ingest verdicts — drift anywhere in
    the lifecycle (archive framing, charset decode, NFC bytes, gate
    thresholds, dedup keeper, sampling hash, packing prefix-sum)
    fails the one hash."""
    import shutil
    import tempfile

    from pdf_parser_spark.operators import curation as cu
    from pdf_parser_spark.sources.warc import write_warc
    from pdf_parser_spark.sources.warc_datasource import WarcDataSource

    docs = read_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="warclife_")
    try:
        write_warc(docs, work)
        spark.conf.set(
            "spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(WarcDataSource)
        back = spark.read.format("warc").load(work).select(
            F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
            .cast("long").alias("doc_id"),
            F.regexp_extract("target_uri", r"^https://([^.]+)\.", 1)
            .alias("source"),
            F.col("body").alias("text"),
        )
        # lang is crawl metadata, not archive bytes: dim join
        rebuilt = back.join(docs.select("doc_id", "lang"), "doc_id")
        pages = cu.with_mixed_encodings(rebuilt)
        ing = cu.ingest_pipeline(pages, return_text=True)
        decoded_docs = ing.select("doc_id", "text").join(
            rebuilt.select("doc_id", "source", "lang"), "doc_id")
        built = cu.corpus_build(decoded_docs)
        out = (
            built.join(
                ing.select("doc_id", "charset", "nfc_changed"), "doc_id")
            .select("doc_id", "source", "lang", "n_tokens", "shard_id",
                    "charset", "nfc_changed")
            .orderBy("doc_id")
            .persist()
        )
        out.count()  # materialize before the archive dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_lineage(spark, sf_dir):
    """The north rule's checkpoint/lineage/resume channel in the
    driver gate (previously pytest-only): run r0 extracts the EVEN
    doc_ids through the versioned checkpoint sink, run r1 submits
    ALL pages with resume=True — the anti-join must route exactly
    the odd half through extraction — and the returned rollup
    aggregates the per-partition lineage rows per run: totals,
    ok/error split, url range.  Partition-count and per-partition
    splits are parallelism-dependent and deliberately NOT in the
    output; the SUMS are exact and provably lossless against the
    frozen fixture (a dropped or double-counted partition breaks
    the hash)."""
    import shutil
    import tempfile

    from pdf_parser_spark.operators.pipeline import run_batch

    work = tempfile.mkdtemp(prefix="lineage_")
    try:
        pages = docs_as_pages(spark, sf_dir).withColumn(
            "doc_id",
            F.regexp_extract("url", r"/([0-9]+)$", 1).cast("long"),
        )
        run_batch(
            pages.where(F.col("doc_id") % 2 == 0).drop("doc_id"),
            work, run_ts=RUN_TS, run_id="r0", versioned=True,
        )
        run_batch(
            pages.drop("doc_id"), work, run_ts=RUN_TS, run_id="r1",
            resume=True, versioned=True,
        )
        from pdf_parser_spark.sources import tableformat as tf

        out = (
            tf.read_table(spark, f"{work}/lineage_tbl")
            .groupBy("run_id")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("n_ok").cast("long").alias("n_ok"),
                F.sum("n_error").cast("long").alias("n_error"),
                F.min("url_min").alias("url_min"),
                F.max("url_max").alias("url_max"),
            )
            .orderBy("run_id")
            .persist()
        )
        out.count()  # materialize before the temp dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def extract_pipeline(spark, sf_dir):
    extracted = extract_stage(
        docs_as_pages(spark, sf_dir), run_ts=RUN_TS
    ).persist()  # see entry(): finalize fans out into 3 plan branches
    final = finalize(extracted)
    # counters cast to long: the driver's hash compares against DuckDB
    # BIGINTs (same convention as every other integer output)
    return final.select(
        "url", "status", "report_type",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_sections").cast("long").alias("n_sections"),
        F.col("filing_sequence").cast("long").alias("filing_sequence"),
    ).orderBy("url")


subs_cte = X.values_cte(
    X.submissions_rows(), ["cik", "form", "report_date", "accession"],
    dates={"report_date"},
)

req_cte = X.values_cte(
    X.requests_rows(), ["cik", "form", "report_date"], dates={"report_date"}
)

facts_cte = X.values_cte(
    X.facts_rows(),
    ["cik", "concept", "unit", "accn", "start_date", "end_date", "val", "segment"],
    dates={"start_date", "end_date"}, doubles={"val"},
)

pdfv_cte = X.values_cte(
    X.pdf_values_rows(), ["cik", "concept", "pdf_val"],
    dates=set(), doubles={"pdf_val"},
)

qc_cte = X.values_cte(
    E.QC_CHECK_ROWS, ["url", "chk", "passed"],
)

fleet_pdf_cte = X.values_cte(
    E.FLEET_PDF_ROWS, E.FLEET_PDF_COLS, doubles={"pdf_val"},
)

corpus_facts_cte = X.values_cte(
    X.facts_rows(ciks=[cik for _n, _t, cik in COMPANIES]),
    ["cik", "concept", "unit", "accn", "start_date", "end_date", "val", "segment"],
    dates={"start_date", "end_date"}, doubles={"val"},
)

concept_dim_cte = X.values_cte(
    [(k, v) for k, v in CONCEPT_CANONICAL.items()],
    ["concept", "canonical"],
)


FACES = [
    # Structural-quality harness: per-(url, check) booleans frozen from
    # the core path; the SQL recomputes the fleet pass-rate roll-up.
    Face("qc_structural", _qc_structural, f"""
            WITH checks AS (SELECT * FROM {qc_cte})
            SELECT chk AS "check",
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   round(avg(CAST(CASE WHEN passed THEN 1 ELSE 0 END AS DOUBLE)), 4)
                       AS pass_rate
            FROM checks GROUP BY chk ORDER BY chk
        """),
    Face("x_accession_lookup", _x_accession, f"""
            WITH subs AS (SELECT * FROM {subs_cte}),
                 reqs AS (SELECT * FROM {req_cte})
            SELECT r.cik, r.form,
                   strftime(r.report_date, '%Y-%m-%d') AS report_date,
                   s.accession
            FROM reqs r
            LEFT JOIN subs s
              ON r.cik = s.cik
             AND regexp_replace(r.form, '/A$', '') = regexp_replace(s.form, '/A$', '')
             AND r.report_date = s.report_date
            ORDER BY r.cik, r.report_date, r.form
        """),
    Face("x_statement_facts", _x_facts, f"""
            WITH facts AS (SELECT * FROM {facts_cte}),
            base AS (
                SELECT *, CASE unit WHEN 'USD' THEN 1 WHEN 'USD/shares' THEN 2
                                    WHEN 'shares' THEN 3 WHEN 'pure' THEN 4 END AS unit_rank
                FROM facts WHERE segment IS NULL
            ), best AS (
                SELECT * FROM (
                    SELECT *, min(unit_rank) OVER (PARTITION BY cik, concept) AS br
                    FROM base) WHERE unit_rank = br
            ), per_end AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept, end_date
                        ORDER BY (end_date - start_date) DESC, start_date ASC, val DESC) AS rn
                    FROM best) WHERE rn = 1
            ), recent AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept ORDER BY end_date DESC) AS recency
                    FROM per_end) WHERE recency <= 4
            )
            SELECT cik, concept,
                   strftime(end_date, '%Y-%m-%d') AS end_date,
                   strftime(start_date, '%Y-%m-%d') AS start_date,
                   unit, val
            FROM recent ORDER BY cik, concept, end_date DESC
        """),
    Face("x_cross_validate", _x_crossval, f"""
            WITH facts AS (SELECT * FROM {facts_cte}),
            xv AS (
                SELECT cik, concept, val AS xbrl_val FROM facts
                WHERE unit = 'USD' AND segment IS NULL
                  AND end_date = DATE '2024-12-31' AND start_date = DATE '2024-10-01'
            ), pdfv AS (SELECT * FROM {pdfv_cte}),
            j AS (
                SELECT p.pdf_val, x.xbrl_val
                FROM pdfv p FULL OUTER JOIN xv x
                  ON p.cik = x.cik AND p.concept = x.concept
            )
            SELECT severity, count(*) AS n FROM (
                SELECT CASE
                    WHEN pdf_val IS NULL THEN 'xbrl_only'
                    WHEN xbrl_val IS NULL THEN 'pdf_only'
                    WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.01 THEN 'match'
                    WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.05 THEN 'minor'
                    ELSE 'major' END AS severity
                FROM j)
            GROUP BY severity ORDER BY severity
        """),
    # Fleet-wide V8: extraction-side (url, cik, canonical, pdf_val)
    # frozen from the core path; the SQL recomputes the concept-dim join,
    # the N6 latest-fact reduction, and the severity banding.
    Face("x_fleet_cross_validate", _x_fleet, f"""
            WITH facts AS (SELECT * FROM {corpus_facts_cte}),
            base AS (
                SELECT *, CASE unit WHEN 'USD' THEN 1 WHEN 'USD/shares' THEN 2
                                    WHEN 'shares' THEN 3 WHEN 'pure' THEN 4 END AS unit_rank
                FROM facts WHERE segment IS NULL
            ), best AS (
                SELECT * FROM (
                    SELECT *, min(unit_rank) OVER (PARTITION BY cik, concept) AS br
                    FROM base) WHERE unit_rank = br
            ), per_end AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept, end_date
                        ORDER BY (end_date - start_date) DESC, start_date ASC, val DESC) AS rn
                    FROM best) WHERE rn = 1
            ), latest AS (
                SELECT cik, concept, val AS xbrl_val FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept ORDER BY end_date DESC) AS recency
                    FROM per_end) WHERE recency = 1
            ), pdf AS (SELECT * FROM {fleet_pdf_cte}),
            dim AS (SELECT * FROM {concept_dim_cte}),
            j AS (
                SELECT p.url, p.cik, d.concept, p.pdf_val, l.xbrl_val
                FROM pdf p
                JOIN dim d ON p.canonical = d.canonical
                LEFT JOIN latest l ON l.cik = p.cik AND l.concept = d.concept
            )
            SELECT url, cik, concept, pdf_val, xbrl_val,
                   CASE WHEN xbrl_val IS NULL THEN 'pdf_only'
                        WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.01 THEN 'match'
                        WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.05 THEN 'minor'
                        ELSE 'major' END AS severity
            FROM j ORDER BY url, concept
        """),
    # incremental re-extraction of the diff-selected set only
    # incremental re-extraction: added = in-new-not-old (odd doc_ids in
    # the %5!=4 snapshot), changed = both + the %11 revision — the
    # frozen tuples restricted to exactly that formula set
    Face("p_incremental_extract", _incremental_extract, f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            sel AS (
                SELECT 'doc://' || source || '/' || doc_id AS url
                FROM documents
                WHERE doc_id % 5 <> 4
                  AND (doc_id % 2 <> 0 OR doc_id % 11 = 0)
            )
            SELECT e.url, e.status, e.report_type, e.n_pages, e.n_sections
            FROM exp e JOIN sel USING (url) ORDER BY e.url
        """),
    # the FULL crawl-to-corpus lifecycle: WARC bytes on disk -> the
    # registered DataSource read -> ingest chain -> corpus build
    # the WARC crawl-to-corpus lifecycle: the archive round-trip is
    # byte-identity, so the oracle rebuilds the decoded text from the
    # mixed-encodings formula (c_ingest_pipeline doctrine) and runs
    # the SAME corpus chain over it — stage twins shared verbatim
    Face("p_warc_ingest_corpus", _warc_ingest_corpus, f"""
            WITH decoded AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 4 THEN text || 'é.'
                            ELSE text END AS raw,
                       nfc_normalize(CASE WHEN doc_id % 5 = 4
                                          THEN text || 'é.'
                                          ELSE text END) AS text,
                       lang, source
                FROM documents
            ), {corpus_chain_for("decoded")}
            SELECT t.doc_id, t.source, t.lang, t.n_tokens,
                   CAST(floor((sum(t.n_tokens) OVER (PARTITION BY t.source
                                                     ORDER BY t.doc_id)
                               - t.n_tokens) / 500) AS BIGINT) AS shard_id,
                   CASE t.doc_id % 5
                     WHEN 1 THEN '{C.CHARSET_UTF8_BOM}'
                     WHEN 2 THEN '{C.CHARSET_UTF16_LE}'
                     WHEN 3 THEN '{C.CHARSET_UTF16_BE}'
                     WHEN 4 THEN '{C.CHARSET_LATIN1}'
                     ELSE '{C.CHARSET_UTF8}' END AS charset,
                   (dd.raw <> dd.text) AS nfc_changed
            FROM t JOIN decoded dd USING (doc_id)
            ORDER BY t.doc_id
        """),
    # boilerplate-gate audit: the north-star text/link-density block
    # verdicts as records (real DOM walk); per-block char arithmetic
    # re-derived exactly by the oracle from the synthesis formula
    # boilerplate-gate audit: four synthesized blocks per doc; the
    # oracle re-derives every counter from the synthesis formula —
    # the body block's chars ride rtrim(substr(text,1,80)) because
    # the gate's cleanup strips a trailing mid-word space (98 sf0.01
    # docs land exactly on that edge), and the mixed block flips
    # kept/link_dense by parity across the exact 2a > t gate
    Face("p_boilerplate_audit",
         lambda s, d: htmlmeta.boilerplate_audit(
             htmlmeta.with_boilerplate_html(read_docs(s, d))),
         """
            WITH base AS (
                SELECT doc_id,
                       6 + length(rtrim(substr(text, 1, 80))) AS bchars
                FROM documents
            ), blocks AS (
                SELECT doc_id, 0 AS block_ord, 'div' AS tag,
                       31 AS text_chars, 31 AS anchor_chars,
                       31 AS total_chars, 'link_dense' AS verdict
                FROM base
                UNION ALL
                SELECT doc_id, 1, 'p', 2, 0, 2, 'too_short' FROM base
                UNION ALL
                SELECT doc_id, 2, 'p', bchars, 0, bchars, 'kept' FROM base
                UNION ALL
                SELECT doc_id, 3, 'p',
                       CASE WHEN doc_id % 2 = 1 THEN 32 ELSE 57 END,
                       CASE WHEN doc_id % 2 = 1 THEN 23 ELSE 4 END,
                       CASE WHEN doc_id % 2 = 1 THEN 30 ELSE 55 END,
                       CASE WHEN doc_id % 2 = 1 THEN 'link_dense'
                            ELSE 'kept' END
                FROM base
            )
            SELECT doc_id, CAST(block_ord AS BIGINT) AS block_ord, tag,
                   CAST(text_chars AS BIGINT) AS text_chars,
                   CAST(anchor_chars AS BIGINT) AS anchor_chars,
                   CAST(total_chars AS BIGINT) AS total_chars,
                   CAST(10000 * anchor_chars // total_chars AS BIGINT)
                       AS link_bp,
                   verdict
            FROM blocks ORDER BY doc_id, block_ord
        """),
    # Flagship pipeline: per-doc tuples frozen from the CORE path
    # (tools/gen_expected.py); the SQL recomputes company_key + the W1
    # filing-sequence window — the distributed parts the core can't cover.
    Face("extract_pipeline", extract_pipeline, f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            keyed AS (
                SELECT *, CASE WHEN company <> '' THEN company
                               ELSE regexp_extract(url, '^[a-z]+://([^/]+)/', 1)
                          END AS company_key
                FROM exp)
            SELECT url, status, report_type, n_pages, n_sections,
                   CAST(row_number() OVER (
                        PARTITION BY company_key
                        ORDER BY period_end ASC, url ASC) AS BIGINT)
                       AS filing_sequence
            FROM keyed ORDER BY url
        """),
    # versioned checkpoint + lineage + resume (north rule): two-run
    # rollup of the per-partition lineage sink; run r1's resume
    # anti-join must extract exactly the odd half
    # checkpoint/lineage/resume rollup: run r0 = even doc_ids, run r1
    # = the odd half the resume anti-join lets through; sums and url
    # ranges re-derived from the frozen fixture
    Face("p_run_lineage", _run_lineage, f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            ids AS (
                SELECT *, CAST(regexp_extract(url, '/([0-9]+)$', 1)
                               AS BIGINT) AS doc_id
                FROM exp
            ), runs AS (
                SELECT 'r0' AS run_id, * FROM ids WHERE doc_id % 2 = 0
                UNION ALL
                SELECT 'r1', * FROM ids WHERE doc_id % 2 = 1
            )
            SELECT run_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN status = 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ok,
                   CAST(sum(CASE WHEN status <> 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_error,
                   min(url) AS url_min, max(url) AS url_max
            FROM runs GROUP BY run_id ORDER BY run_id
        """),
]
