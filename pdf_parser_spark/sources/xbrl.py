"""Synthetic EDGAR-shaped dimensions: ``submissions`` and ``xbrl_facts``.

The reference fetches these over HTTP per company (S4/S5,
reference edgar_client.py:80-113) with an in-memory cache and a 100 ms rate
limit — a non-starter at 10^12 documents.  Per SURVEY.md §2.1, the engine
models them as **pre-materialized broadcast dimension tables** joined by cik.
This module synthesizes deterministic small dims (pure function of the seed)
in the FIXTURES.md §4 shape so the N6/N7/V8 relational operators have real
input without any network.

Rows are plain tuples so the SAME data can be (a) a Spark DataFrame and
(b) inlined as a DuckDB VALUES CTE by the faces' oracle SQL — the
correctness gate then checks the relational logic, not the data plumbing.
"""

from __future__ import annotations

import random
from datetime import date

from pyspark.sql import DataFrame, SparkSession

_CONCEPTS = (
    "Revenues", "NetIncomeLoss", "Assets", "Liabilities",
    "StockholdersEquity", "CashAndCashEquivalentsAtCarryingValue",
)
# reference unit preference order (edgar_client.py:210)
UNIT_ORDER = ("USD", "USD/shares", "shares", "pure")

SUBMISSIONS_SCHEMA = "cik string, form string, report_date date, accession string"
FACTS_SCHEMA = (
    "cik string, concept string, unit string, accn string, "
    "start_date date, end_date date, val double, segment string"
)

_QUARTER_ENDS = (
    "2023-03-31", "2023-06-30", "2023-09-30", "2023-12-31",
    "2024-03-31", "2024-06-30", "2024-09-30", "2024-12-31",
)
_QUARTER_STARTS = (
    "2023-01-01", "2023-04-01", "2023-07-01", "2023-10-01",
    "2024-01-01", "2024-04-01", "2024-07-01", "2024-10-01",
)


def submissions_rows(n_companies: int = 8, seed: int = 42) -> list[tuple]:
    """(cik, form, report_date, accession) — one 10-Q per quarter per company,
    a 10-K on Q4, and a deterministic subset amended as 10-Q/A (the reference
    normalizes '/A' off before matching, edgar_client.py:128-131)."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_companies):
        cik = f"{1000000 + 137 * c:010d}"
        for qi, end in enumerate(_QUARTER_ENDS):
            form = "10-K" if end.endswith("12-31") else "10-Q"
            if rng.random() < 0.2:
                form += "/A"
            accession = f"{int(cik)}-{end[:4]}-{qi:06d}"
            rows.append((cik, form, date.fromisoformat(end), accession))
    return rows


def facts_rows(
    n_companies: int = 8, seed: int = 42, ciks: list[str] | None = None
) -> list[tuple]:
    """(cik, concept, unit, accn, start_date, end_date, val, segment).

    Exercises every N6 rule: multiple units per concept (preference order),
    segment-tagged rows (must be skipped, edgar_client.py:229-230), >4 end
    dates (keep most recent 4), and per-end-date duration ties (keep the
    longest, edgar_client.py:255-275).  Pass ``ciks`` to generate facts for
    specific companies (e.g. the synthetic corpus issuers) instead of the
    default derived cik sequence."""
    rng = random.Random(seed + 1)
    rows = []
    cik_list = ciks if ciks is not None else [
        f"{1000000 + 137 * c:010d}" for c in range(n_companies)
    ]
    for cik in cik_list:
        for concept in _CONCEPTS:
            base = rng.randrange(10_000, 5_000_000)
            for qi, end_s in enumerate(_QUARTER_ENDS):
                end = date.fromisoformat(end_s)
                q_start = date.fromisoformat(_QUARTER_STARTS[qi])
                accn = f"{int(cik)}-{end_s[:4]}-{qi:06d}"
                val = round(base * (1 + 0.03 * qi) + rng.randrange(0, 997), 2)
                # quarter-duration fact
                rows.append((cik, concept, "USD", accn, q_start, end, val, None))
                # YTD fact with the SAME end date but longer duration — the
                # period-grouping rule must pick this one
                if qi % 4 != 0:
                    ytd_start = date.fromisoformat(_QUARTER_STARTS[qi - qi % 4])
                    rows.append(
                        (cik, concept, "USD", accn, ytd_start, end,
                         round(val * (1 + qi % 4), 2), None)
                    )
                # decoy: same numbers under a dispreferred unit
                if rng.random() < 0.5:
                    rows.append(
                        (cik, concept, "pure", accn, q_start, end,
                         round(val / 1000, 2), None)
                    )
                # segment-tagged decoy (must never surface)
                if rng.random() < 0.3:
                    rows.append(
                        (cik, concept, "USD", accn, q_start, end,
                         round(val * 0.4, 2), "us-gaap:SegmentMember")
                    )
    return rows


REQUESTS_SCHEMA = "cik string, form string, report_date date"


def requests_rows(n_companies: int = 8, seed: int = 42) -> list[tuple]:
    """(cik, form, report_date) lookup requests for N7: every 3rd submission,
    with the '/A' suffix deliberately flipped on a fixed cadence (the join
    must normalize both sides), plus one guaranteed miss."""
    rows = []
    for i, (cik, form, rdate, _accn) in enumerate(submissions_rows(n_companies, seed)):
        if i % 3 != 0:
            continue
        if i % 6 == 0:
            form = form[:-2] if form.endswith("/A") else form + "/A"
        rows.append((cik, form, rdate))
    rows.append(("9999999999", "10-K", date(2024, 12, 31)))
    return rows


PDF_VALUES_SCHEMA = "cik string, concept string, pdf_val double"


def pdf_values_rows(n_companies: int = 8, seed: int = 42) -> list[tuple]:
    """(cik, concept, pdf_val) — deterministic 'extracted from the PDF' values
    derived from the SAME facts generator, perturbed in a fixed cycle so every
    V8 severity band (match / minor / major / pdf_only / xbrl_only) occurs.

    Base slice = the 2024-12-31 quarter facts (USD, unsegmented) — the slice
    ``x_cross_validate`` uses as its XBRL side."""
    base = [
        r for r in facts_rows(n_companies, seed)
        if r[2] == "USD" and r[7] is None
        and str(r[5]) == "2024-12-31" and str(r[4]) == "2024-10-01"
    ]
    rows = []
    for i, (cik, concept, _unit, _accn, _s, _e, val, _seg) in enumerate(base):
        mode = i % 5
        if mode == 0:
            rows.append((cik, concept, round(val, 2)))            # match (exact)
        elif mode == 1:
            rows.append((cik, concept, round(val * 1.005, 2)))    # match (<=1%)
        elif mode == 2:
            rows.append((cik, concept, round(val * 1.03, 2)))     # minor
        elif mode == 3:
            rows.append((cik, concept, round(val * 1.5, 2)))      # major
        # mode 4: omitted -> xbrl_only
        if i % 7 == 0:
            rows.append((cik, "PdfOnlyMetric", round(val * 0.1, 2)))  # pdf_only
    return rows


def submissions_df(spark: SparkSession, n_companies: int = 8, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(submissions_rows(n_companies, seed), SUBMISSIONS_SCHEMA)


def facts_df(
    spark: SparkSession,
    n_companies: int = 8,
    seed: int = 42,
    ciks: list[str] | None = None,
) -> DataFrame:
    return spark.createDataFrame(facts_rows(n_companies, seed, ciks), FACTS_SCHEMA)


def corpus_facts_df(spark: SparkSession, seed: int = 42) -> DataFrame:
    """Facts dimension for the synthetic corpus issuers (sources/corpus.py
    COMPANIES) — the dimension the batch job's --xbrl stage joins."""
    from pdf_parser_spark.sources.corpus import COMPANIES

    return facts_df(spark, seed=seed, ciks=[cik for _n, _t, cik in COMPANIES])


def _sql_lit(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_cte(
    rows: list[tuple],
    cols: list[str],
    dates: set[str] = frozenset(),
    doubles: set[str] = frozenset(),
    bigints: set[str] = frozenset(),
) -> str:
    """Render rows as a DuckDB VALUES CTE body with typed casts (DATE for
    date columns; DOUBLE for value columns — bare decimal literals would
    otherwise infer as DECIMAL and round differently than Spark doubles;
    BIGINT for integer columns compared against Spark longs).  Bools render
    as TRUE/FALSE, ints as bare numerals."""
    rendered = []
    for row in rows:
        cells = []
        for col, v in zip(cols, row):
            lit = _sql_lit(v)
            if col in dates and v is not None:
                lit = f"DATE {lit}"
            elif col in doubles and v is not None:
                lit = f"CAST({lit} AS DOUBLE)"
            elif col in bigints and v is not None:
                lit = f"CAST({lit} AS BIGINT)"
            cells.append(lit)
        rendered.append("(" + ", ".join(cells) + ")")
    return (
        "(SELECT * FROM (VALUES "
        + ",\n       ".join(rendered)
        + f") AS t({', '.join(cols)}))"
    )
