"""PDF byte-parser faces: layout, text, links, outline, scanned-page
detection and the two-strategy table policy over synthesized PDFs."""

from __future__ import annotations

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import read_docs
from pdf_parser_spark.operators import pdflayout as PL


# synthesized-PDF layout rows (shared by p_pdf_layout and p_pdf_text
# so the two faces cannot drift): page count, paragraph line counts,
# y ladder, and texts re-derived from the doc_id arithmetic
_pdf_rows_cte = f"""
        parms AS (
            SELECT doc_id, p,
                   2 + (doc_id + p) % 3 AS k1,
                   1 + (doc_id + p) % 2 AS k2
            FROM (
                SELECT doc_id,
                       unnest(range(0, CASE WHEN doc_id % 4 = 3
                                           THEN 1 ELSE 2 END)) AS p
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
            )
        ), pdf_headings AS (
            SELECT doc_id, p AS page_no, 0 AS block_id, 0 AS line_id,
                   {PL.HEAD_SIZE * 10} AS font_tenths,
                   {PL.HEAD_Y * 10} AS y_tenths,
                   true AS is_heading,
                   'Heading ' || p || ' of doc ' || doc_id AS text
            FROM parms
        ), pdf_para1 AS (
            SELECT doc_id, p AS page_no, 1 AS block_id,
                   CAST(i AS INTEGER) AS line_id,
                   {PL.BODY_SIZE * 10} AS font_tenths,
                   CAST({PL.P1_Y * 10} - {PL.LEADING * 10} * i
                        AS INTEGER) AS y_tenths,
                   false AS is_heading,
                   'Body (para one) line ' || i || ' of ' || doc_id
                       AS text
            FROM (SELECT doc_id, p,
                         unnest(range(0, k1)) AS i FROM parms)
        ), pdf_para2 AS (
            SELECT doc_id, p AS page_no, 2 AS block_id,
                   CAST(i AS INTEGER) AS line_id,
                   {PL.BODY_SIZE * 10} AS font_tenths,
                   CAST({PL.P2_Y * 10} - {PL.LEADING * 10} * i
                        AS INTEGER) AS y_tenths,
                   false AS is_heading,
                   'Body (para two) line ' || i || ' of ' || doc_id
                       AS text
            FROM (SELECT doc_id, p,
                         unnest(range(0, k2)) AS i FROM parms)
        ), pdf_lines AS (
            SELECT * FROM pdf_headings
            UNION ALL SELECT * FROM pdf_para1
            UNION ALL SELECT * FROM pdf_para2
        )
    """


FACES = [
    # byte-level PDF layout parse (north rule): xref walk ->
    # FlateDecode -> text operators -> line/block segmentation +
    # font-size heading heuristic, one Arrow stage
    # PDF layout: the oracle re-derives the synthesized geometry from
    # doc_id arithmetic (page count, paragraph line counts, y ladder,
    # escaped-paren texts), so a Td accumulation bug, an escape slip,
    # a block-gap change, or an xref off-by-one all hash-mismatch;
    # corrupt docs (%13) contribute zero rows.  The CTE chain is
    # shared verbatim with p_pdf_text (_pdf_rows_cte), so the two
    # faces cannot drift.
    Face("p_pdf_layout",
         lambda s, d: PL.pdf_layout(
             PL.synthetic_pdfs(read_docs(s, d))
         ),
         f"""
            WITH {_pdf_rows_cte}
            SELECT doc_id, CAST(page_no AS INTEGER) AS page_no,
                   CAST(block_id AS INTEGER) AS block_id, line_id,
                   CAST(font_tenths AS INTEGER) AS font_tenths,
                   y_tenths, is_heading, text
            FROM pdf_lines ORDER BY doc_id, page_no, block_id, line_id
        """),
    # reading-order text assembly over the layout rows (line -> block
    # -> page -> document, explicit in-group ordering throughout)
    # reading-order text assembly over the same synthesized rows:
    # line -> block (\\n) -> page (blank line) -> document (\\f),
    # every join ordered explicitly
    Face("p_pdf_text",
         lambda s, d: PL.pdf_text(
             PL.synthetic_pdfs(read_docs(s, d))
         ),
         f"""
            WITH {_pdf_rows_cte},
            blocks AS (
                SELECT doc_id, page_no, block_id,
                       string_agg(text, chr(10) ORDER BY line_id)
                           AS block_text,
                       max(CASE WHEN is_heading THEN 1 ELSE 0 END)
                           AS is_heading
                FROM pdf_lines GROUP BY doc_id, page_no, block_id
            ), pages AS (
                SELECT doc_id, page_no,
                       string_agg(block_text, chr(10) || chr(10)
                                  ORDER BY block_id) AS page_text,
                       count(*) AS n_blocks,
                       sum(is_heading) AS n_headings
                FROM blocks GROUP BY doc_id, page_no
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(n_blocks) AS BIGINT) AS n_blocks,
                   CAST(sum(n_headings) AS BIGINT) AS n_headings,
                   string_agg(page_text, chr(12) ORDER BY page_no) AS text
            FROM pages GROUP BY doc_id ORDER BY doc_id
        """),
    # /Link-annotation URI outlinks (§12.5.6.5 + §12.6.4.7): the PDF
    # half of the outlink story; decoy annots/actions skipped
    # pdf links: uris re-derived from the (doc_id+i)%10 formula over
    # k = 1 + d%3 annots; the %7==2 stratum is annotation-free
    Face("p_pdf_links",
         lambda s, d: PL.pdf_links(
             PL.synthetic_link_pdfs(read_docs(s, d))
         ),
         f"""
            SELECT doc_id, 0 AS page_no, CAST(i AS INTEGER) AS ord,
                   'https://site' || ((doc_id + i) % 10)
                       || '.example.com/docs/' || (doc_id * 10 + i)
                       AS uri
            FROM (
                SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS i
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
                  AND doc_id % 7 <> 2
            ) ORDER BY doc_id, page_no, ord
        """),
    # author-declared outline (PDF §12.3.3 bookmarks): pre-order
    # /First-before-/Next walk; outline-less docs yield zero rows
    # (the heuristics-fallback population)
    # outline: chapters + parity children re-derived; ord is the
    # pre-order row_number, level is the child flag
    Face("p_pdf_outline",
         lambda s, d: PL.pdf_outline(
             PL.synthetic_outline_pdfs(read_docs(s, d))
         ),
         f"""
            WITH eligible AS (
                SELECT doc_id, 1 + doc_id % 3 AS nc FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
                  AND doc_id % 5 <> 2
            ), chap AS (
                SELECT doc_id, unnest(range(0, nc)) AS i FROM eligible
            ), items AS (
                SELECT doc_id, i, 0 AS is_child FROM chap
                UNION ALL
                SELECT doc_id, i, 1 FROM chap WHERE (doc_id + i) % 2 = 1
            )
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY i, is_child) - 1 AS INTEGER) AS ord,
                   CAST(is_child AS INTEGER) AS level,
                   CASE WHEN is_child = 1
                        THEN 'Section ' || i || '.0 of ' || doc_id
                        ELSE 'Chapter ' || i || ' of ' || doc_id END
                       AS title
            FROM items ORDER BY doc_id, ord
        """),
    # scanned-document rejection from raw bytes (reference S3
    # detect_scanned rule: strictly > 80% of pages under 50 chars),
    # fail-soft
    # scanned audit: page counts and sparse counts re-derived from
    # the %6 fleet rule; corrupt docs land in the reject lane with
    # n_pages 0 (unparseable == image-only for routing); STRICT >
    # threshold, the reference's detect_scanned comparison — exactly
    # 80% sparse is accepted
    Face("p_pdf_scanned",
         lambda s, d: PL.pdf_scanned_audit(
             PL.synthetic_scan_pdfs(read_docs(s, d))
         ),
         f"""
            SELECT doc_id,
                   CAST(np AS BIGINT) AS n_pages,
                   CAST(sp AS BIGINT) AS n_sparse_pages,
                   CAST(CASE WHEN np = 0 THEN 10000
                        ELSE 10000 * sp // np END AS BIGINT) AS sparse_bp,
                   CASE WHEN np = 0 THEN true
                        ELSE 10000 * sp // np
                             > {PL.SCAN_THRESHOLD_BP} END AS scanned
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0 THEN 0
                            WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS np,
                       CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0 THEN 0
                            WHEN doc_id % 6 = 1 THEN
                                 CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END
                            WHEN doc_id % 6 = 3 THEN
                                 CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END
                            ELSE 0 END AS sp
                FROM documents
            ) ORDER BY doc_id
        """),
    # two-strategy policy observability: which path (ruled grids /
    # hint-gated text retry / none) produced each doc's tables
    # two-strategy observability: the fleet's flavor arithmetic IS
    # the strategy verdict — corrupt bytes parse to no pages (none),
    # the ruled flavor never needs the hint, everyone else reaches
    # cells only through the hint-gated text retry
    Face("p_pdf_table_strategy",
         lambda s, d: PL.pdf_table_strategy_audit(
                 PL.synthetic_table_pdfs(read_docs(s, d))),
         f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0
                        THEN 'none'
                        WHEN doc_id % {PL.RULED_MOD} = 2 THEN 'ruled'
                        ELSE 'text_retry' END AS strategy
            FROM documents ORDER BY doc_id
        """),
    # table extraction from layout runs (the pdfplumber
    # extract_tables role): >= 2-run line bands, x-rank columns,
    # prose lines break bands
    # table extraction: cell grid re-derived from the synthesis
    # arithmetic — wrong column ranking, a band not broken by the
    # prose line, or x/y drift all mismatch
    Face("p_pdf_tables",
         lambda s, d: PL.pdf_tables(
             PL.synthetic_table_pdfs(read_docs(s, d))
         ),
         f"""
            WITH td AS (
                SELECT doc_id, 2 + doc_id % 3 AS r0,
                       2 + doc_id % 2 AS c0, 1 + doc_id % 2 AS r1
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
            ), t0r AS (
                SELECT doc_id, c0, unnest(range(0, r0)) AS r FROM td
            ), t0 AS (
                SELECT doc_id, 0 AS table_id, r,
                       unnest(range(0, c0)) AS c
                FROM t0r
            ), t1r AS (
                SELECT doc_id, unnest(range(0, r1)) AS r FROM td
            ), t1 AS (
                SELECT doc_id, 1 AS table_id, r,
                       unnest(range(0, 2)) AS c
                FROM t1r
            ), cells AS (
                SELECT doc_id, table_id, r, c,
                       {PL.T0_Y * 10} - {PL.ROW_LEAD * 10} * r AS y,
                       'a' || r || '_' || c || '_' || doc_id AS text
                FROM t0
                UNION ALL
                SELECT doc_id, table_id, r, c,
                       {PL.T1_Y * 10} - {PL.ROW_LEAD * 10} * r AS y,
                       'b' || r || '_' || c || '_' || doc_id AS text
                FROM t1
            )
            SELECT doc_id, 0 AS page_no,
                   CAST(table_id AS INTEGER) AS table_id,
                   CAST(r AS INTEGER) AS row, CAST(c AS INTEGER) AS col,
                   CAST({PL.COL_X0 * 10} + {PL.COL_W * 10} * c
                        AS INTEGER) AS x_tenths,
                   CAST(y AS INTEGER) AS y_tenths, text
            FROM cells ORDER BY doc_id, page_no, table_id, row, col
        """),
]
