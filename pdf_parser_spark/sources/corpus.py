"""Deterministic synthetic Common-Crawl-style pages corpus.

Pure function of (seed, n_docs): no clock, no randomness beyond a seeded
generator, ASCII-safe except deliberate artifact fixtures.  Shape follows
BASELINE.json input_hint: (url, warc_ts, html binary, text, lang).

Document families (FIXTURES.md §2) target specific reference operators:
clean 10-Q filings (the filing_series for W1/W2), a combined 10-K with TOC
prefix, an IFRS report, artifact docs (bold tripling / interleave / sparse
rows / single-col rows), a scanned doc, and a press release.  A Zipf-ish
host skew puts ~30% of rows on one heavy host to exercise salted
repartitioning.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

COMPANIES = [
    ("Strive Industries, Inc.", "STRV", "0001112223"),
    ("Quantum Fabrication Corp.", "QFAB", "0002223334"),
    ("Harbor Logistics Group", "HLG", "0003334445"),
    ("Meridian Data Systems, Inc.", "MDS", "0004445556"),
    ("Pinnacle Energy Holdings", "PEH", "0005556667"),
]

HOSTS = [
    "filings.example-heavy.com",  # heavy host: ~30% of documents
    "ir.strivecorp.example",
    "reports.qfab.example",
    "docs.harborlog.example",
    "data.meridian.example",
    "archive.pinnacle.example",
]

_EPOCH = datetime(2024, 1, 15, tzinfo=timezone.utc)

_Q_MONTH_DAY = {1: "March 31", 2: "June 30", 3: "September 30"}


def _host_for(rng: random.Random) -> str:
    # ~30% heavy host, rest uniform
    if rng.random() < 0.30:
        return HOSTS[0]
    return HOSTS[1 + rng.randrange(len(HOSTS) - 1)]


def _fmt_num(x: int) -> str:
    return f"{x:,}"


def _statement_numbers(rng: random.Random) -> dict[str, int]:
    """Internally-consistent statement values so V3-V6 checks PASS."""
    revenue = rng.randrange(50_000, 900_000)
    cost = int(revenue * rng.uniform(0.4, 0.7))
    gross = revenue - cost
    opex = int(gross * rng.uniform(0.3, 0.8))
    op_income = gross - opex
    tax = max(0, int(op_income * 0.2))
    net_income = op_income - tax

    cash = rng.randrange(20_000, 400_000)
    ar = rng.randrange(10_000, 120_000)
    ppe = rng.randrange(30_000, 500_000)
    total_assets = cash + ar + ppe
    ap = rng.randrange(5_000, 80_000)
    ltd = rng.randrange(10_000, 200_000)
    total_liab = ap + ltd
    equity = total_assets - total_liab

    cf_ops = net_income + rng.randrange(1_000, 30_000)
    cf_inv = -rng.randrange(1_000, 50_000)
    begin_cash = rng.randrange(10_000, 300_000)
    net_change = cash - begin_cash
    cf_fin = net_change - cf_ops - cf_inv

    return dict(
        revenue=revenue, cost=cost, gross=gross, opex=opex,
        op_income=op_income, tax=tax, net_income=net_income,
        cash=cash, ar=ar, ppe=ppe, total_assets=total_assets,
        ap=ap, ltd=ltd, total_liab=total_liab, equity=equity,
        cf_ops=cf_ops, cf_inv=cf_inv, cf_fin=cf_fin,
        begin_cash=begin_cash, net_change=net_change, end_cash=cash,
    )


# Label variants per quarter index — exercises exact/fuzzy normalization and
# the cross-filing first-wins consistency stage (FIXTURES.md family 7).
_REVENUE_LABELS = ["Net revenues", "Total revenues", "Revenues", "Net revenues"]
_NI_LABELS = ["Net income", "Net income (loss)", "Net income", "Net income"]


def _cover_page(company: str, ticker: str, cik: str, period: str, form: str) -> str:
    return "\n".join([
        "UNITED STATES",
        "SECURITIES AND EXCHANGE COMMISSION",
        "Washington, D.C. 20549",
        f"FORM {form}",
        f"For the quarterly period ended {period}"
        if form == "10-Q" else f"For the fiscal year ended {period}",
        "Commission File Number: 001-38902",
        f"{company}",
        "(Exact name of registrant as specified in its charter)",
        "Delaware",
        "(State or other jurisdiction of incorporation or organization)",
        "450 Harbor Street, Suite 900",
        "San Francisco, California 94105",
        "(Address of principal executive offices)",
        "Registrant's telephone number, including area code: (415) 555-0135",
        f"Central Index Key: {int(cik)}",
        "Securities registered pursuant to Section 12(b) of the Act:",
        "Title of Each Class Trading Symbol Name of Each Exchange on Which Registered",
        f"Common stock, $0.001 par value {ticker} The Nasdaq Global Select Market",
        f"As of the latest practicable date, 120,450,300 shares of common stock were outstanding.",
    ])


def _tbl(rows: list[list[str]]) -> str:
    """Render a grid table into the html body."""
    out = ["<table>"]
    for row in rows:
        out.append("<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>")
    out.append("</table>")
    return "\n".join(out)


def _income_rows(v: dict[str, int], q: int) -> list[list[str]]:
    prev = {k: int(x * 0.87) for k, x in v.items()}
    return [
        [_REVENUE_LABELS[q % len(_REVENUE_LABELS)], "$", _fmt_num(v["revenue"]), "", "$", _fmt_num(prev["revenue"]), ""],
        ["Cost of revenue", "", _fmt_num(v["cost"]), "", "", _fmt_num(prev["cost"]), ""],
        ["Gross profit", "", _fmt_num(v["gross"]), "", "", _fmt_num(prev["gross"]), ""],
        ["Total operating expenses", "", _fmt_num(v["opex"]), "", "", _fmt_num(prev["opex"]), ""],
        ["Operating income", "", _fmt_num(v["op_income"]), "", "", _fmt_num(prev["op_income"]), ""],
        ["Provision for income taxes", "", _fmt_num(v["tax"]), "", "", _fmt_num(prev["tax"]), ""],
        [_NI_LABELS[q % len(_NI_LABELS)], "$", _fmt_num(v["net_income"]), "", "$", _fmt_num(prev["net_income"]), ""],
    ]


def _balance_rows(v: dict[str, int]) -> list[list[str]]:
    return [
        ["Current assets:", "", "", ""],
        ["Cash and cash equivalents", "$", _fmt_num(v["cash"]), ""],
        ["Accounts receivable, net", "", _fmt_num(v["ar"]), ""],
        ["Property and equipment, net", "", _fmt_num(v["ppe"]), ""],
        ["Total assets", "$", _fmt_num(v["total_assets"]), ""],
        ["Current liabilities:", "", "", ""],
        ["Accounts payable", "$", _fmt_num(v["ap"]), ""],
        ["Long-term debt", "", _fmt_num(v["ltd"]), ""],
        ["Total liabilities", "", _fmt_num(v["total_liab"]), ""],
        ["Total stockholders' equity", "", _fmt_num(v["equity"]), ""],
        ["Total liabilities and stockholders' equity", "$", _fmt_num(v["total_assets"]), ""],
    ]


def _equity_rows(v: dict[str, int], period: str) -> list[list[str]]:
    """Stockholders'-equity roll-forward: own header row (T14 path) + sparse
    component columns (only some cells populated per row)."""
    end = v["equity"]
    ni = v["net_income"]
    sbc = max(end // 50, 1)
    begin = end - ni - sbc
    cs = max(end // 100, 1)
    apic = max(begin // 3, 1)
    re_begin = begin - cs - apic
    return [
        ["", "Common Stock", "Additional Paid-in Capital", "Retained Earnings", "Total"],
        ["Balance at beginning of period", _fmt_num(cs), _fmt_num(apic), _fmt_num(re_begin), _fmt_num(begin)],
        ["Net income", "", "", _fmt_num(ni), _fmt_num(ni)],
        ["Stock-based compensation", "", _fmt_num(sbc), "", _fmt_num(sbc)],
        [f"Balance at {period}", _fmt_num(cs), _fmt_num(apic + sbc), _fmt_num(re_begin + ni), _fmt_num(end)],
    ]


def _cashflow_rows(v: dict[str, int]) -> list[list[str]]:
    def signed(x: int) -> str:
        return f"({_fmt_num(-x)})" if x < 0 else _fmt_num(x)
    return [
        ["Net income", "$", _fmt_num(v["net_income"]), ""],
        ["Net cash provided by operating activities", "", signed(v["cf_ops"]), ""],
        ["Net cash used in investing activities", "", signed(v["cf_inv"]), ""],
        ["Net cash provided by (used in) financing activities", "", signed(v["cf_fin"]), ""],
        ["Net increase (decrease) in cash", "", signed(v["net_change"]), ""],
        ["Cash at beginning of period", "", _fmt_num(v["begin_cash"]), ""],
        ["Cash at end of period", "$", _fmt_num(v["end_cash"]), ""],
    ]


def _filing_html(
    company: str, ticker: str, cik: str, period: str, year: int,
    form: str, v: dict[str, int], q: int,
) -> tuple[str, str]:
    """-> (html, page_text) for one clean SEC filing."""
    cover = _cover_page(company, ticker, cik, period, form)
    period_hdr = f"{period.rsplit(' ', 1)[0]},"
    boiler_nav = (
        '<nav><a href="/">Home</a> <a href="/filings">Filings</a> '
        '<a href="/ir">Investor Relations</a> <a href="/contact">Contact</a></nav>'
    )
    pages_html: list[str] = []
    pages_text: list[str] = []

    def page(body_html: str, body_text: str) -> None:
        pages_html.append(f'<div class="page">{body_html}</div>')
        pages_text.append(body_text)

    page("<pre>" + cover + "</pre>", cover)

    is_text = "\n".join([
        "CONDENSED CONSOLIDATED STATEMENTS OF OPERATIONS",
        "(in thousands, except per share data)",
        f"Three Months Ended {period_hdr}",
        f"{year} {year - 1}",
    ])
    page(
        f"<h2>CONDENSED CONSOLIDATED STATEMENTS OF OPERATIONS</h2>"
        f"<p>(in thousands, except per share data)</p>"
        f"<p>Three Months Ended {period_hdr}</p><p>{year} {year - 1}</p>"
        + _tbl(_income_rows(v, q)),
        is_text,
    )
    bs_text = "\n".join([
        "CONDENSED CONSOLIDATED BALANCE SHEETS",
        "(in thousands)",
        f"{period_hdr}",
        f"{year} {year - 1}",
    ])
    page(
        "<h2>CONDENSED CONSOLIDATED BALANCE SHEETS</h2><p>(in thousands)</p>"
        f"<p>{period_hdr}</p><p>{year} {year - 1}</p>" + _tbl(_balance_rows(v)),
        bs_text,
    )
    cf_text = "\n".join([
        "CONDENSED CONSOLIDATED STATEMENTS OF CASH FLOWS",
        "(in thousands)",
        f"Three Months Ended {period_hdr}",
        f"{year} {year - 1}",
    ])
    page(
        "<h2>CONDENSED CONSOLIDATED STATEMENTS OF CASH FLOWS</h2>"
        f"<p>(in thousands)</p><p>Three Months Ended {period_hdr}</p>"
        f"<p>{year} {year - 1}</p>" + _tbl(_cashflow_rows(v)),
        cf_text,
    )
    eq_text = "\n".join([
        "CONDENSED CONSOLIDATED STATEMENTS OF STOCKHOLDERS' EQUITY",
        "(in thousands)",
    ])
    page(
        "<h2>CONDENSED CONSOLIDATED STATEMENTS OF STOCKHOLDERS' EQUITY</h2>"
        "<p>(in thousands)</p>" + _tbl(_equity_rows(v, period)),
        eq_text,
    )
    notes_text = "\n".join([
        "NOTES TO CONDENSED CONSOLIDATED FINANCIAL STATEMENTS",
        "Note 1. Basis of Presentation",
        f"The accompanying unaudited condensed consolidated financial statements of {company}",
        "have been prepared in accordance with U.S. generally accepted accounting principles.",
        "Note 2. Revenue Recognition",
        "Revenue is recognized when control of the promised goods or services is transferred.",
    ])
    page("<h2>NOTES TO CONDENSED CONSOLIDATED FINANCIAL STATEMENTS</h2><p>"
         + notes_text.replace("\n", "</p><p>") + "</p>", notes_text)
    mda_text = "\n".join([
        "Item 2. MANAGEMENT'S DISCUSSION AND ANALYSIS OF FINANCIAL CONDITION AND RESULTS OF OPERATIONS",
        f"Revenue increased during the quarter driven by continued demand for {company} products.",
        "Operating expenses reflect ongoing investment in research and development.",
        "We believe existing cash will be sufficient to fund operations for the next twelve months.",
    ])
    page("<h2>Item 2. MANAGEMENT'S DISCUSSION AND ANALYSIS</h2><p>"
         + mda_text.replace("\n", "</p><p>") + "</p>", mda_text)
    if form == "10-K":
        rf_text = "\n".join([
            "Item 1A. RISK FACTORS",
            f"An investment in {company} common stock involves a high degree of risk.",
            "Our operating results may fluctuate significantly from period to period.",
            "We depend on a limited number of suppliers for key components.",
            "Adverse macroeconomic conditions could reduce demand for our products.",
        ])
        page("<h2>Item 1A. RISK FACTORS</h2><p>"
             + rf_text.replace("\n", "</p><p>") + "</p>", rf_text)
    sig_text = "SIGNATURES\nPursuant to the requirements of the Securities Exchange Act of 1934."
    page("<h2>SIGNATURES</h2><p>Pursuant to the requirements of the Securities Exchange Act of 1934.</p>",
         sig_text)

    html = (
        "<html><head><title>"
        + company
        + "</title></head><body>"
        + boiler_nav
        + "".join(pages_html)
        + '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
        + "</body></html>"
    )
    return html, PAGE_SEP.join(pages_text)


PAGE_SEP = "\f"


def _ifrs_html(rng: random.Random) -> tuple[str, str]:
    rev = rng.randrange(40_000, 500_000)
    cost = int(rev * 0.6)
    pages_text = [
        "\n".join([
            "Cadence Offshore ASA",
            "Annual Report prepared in accordance with IFRS",
            "Org. nr: 987 654 321",
            "All amounts in NOK'000 unless otherwise stated",
            "Oslo Stock Exchange listing: CADO",
        ]),
        "\n".join([
            "Consolidated Statement of Profit or Loss",
            f"{2024} {2023}",
            f"Revenue {rev:,} {int(rev*0.9):,}",
            f"Cost of sales ({cost:,}) ({int(cost*0.9):,})",
            f"Gross profit {rev-cost:,} {int((rev-cost)*0.9):,}",
        ]),
        "\n".join([
            "Consolidated Statement of Financial Position",
            f"{2024} {2023}",
            f"Total assets {rev*3:,} {int(rev*2.8):,}",
            f"Total equity {rev*2:,} {int(rev*1.9):,}",
        ]),
        "\n".join([
            "Notes to the Consolidated Financial Statements",
            "Note 1 General information",
            "Cadence Offshore ASA is a public limited company incorporated in Norway.",
        ]),
    ]
    body = "".join(
        f'<div class="page"><p>' + t.replace("\n", "</p><p>") + "</p></div>"
        for t in pages_text
    )
    html = "<html><body><nav><a href='/'>Hjem</a></nav>" + body + "</body></html>"
    return html, PAGE_SEP.join(pages_text)


def _artifact_html(kind: str, rng: random.Random) -> tuple[str, str]:
    """Single-defect documents exercising X1/X2/T3/T8 paths."""
    v = _statement_numbers(rng)
    if kind == "bold_overlay":
        garbled = "".join(ch * 3 for ch in "Year Ended December 31, 2024").replace("   ", " ")
        text = PAGE_SEP.join([
            _cover_page("Overlay Corp.", "OVR", "0009990001", "December 31, 2024", "10-K"),
            "\n".join([
                "CONSOLIDATED STATEMENTS OF OPERATIONS",
                garbled,
                f"Total revenues $ {v['revenue']:,} $ {int(v['revenue']*0.9):,}",
                f"Net income $ {v['net_income']:,} $ {int(v['net_income']*0.9):,}",
                f"Operating income $ {v['op_income']:,} $ {int(v['op_income']*0.9):,}",
            ]),
        ])
        return "", text
    if kind == "single_col":
        text = PAGE_SEP.join([
            _cover_page("Singleton Inc.", "SGL", "0009990002", "June 30, 2025", "10-Q"),
            "\n".join([
                "CONDENSED CONSOLIDATED STATEMENTS OF OPERATIONS",
                "(in thousands)",
                f"2025 2024",
                f"Revenue $ {v['revenue']:,} $ {int(v['revenue']*0.87):,}",
                f"Cost of revenue {v['cost']:,} {int(v['cost']*0.87):,}",
                f"Gross profit {v['gross']:,} {int(v['gross']*0.87):,}",
                f"Operating income {v['op_income']:,} {int(v['op_income']*0.87):,}",
                f"Net income $ {v['net_income']:,} $ {int(v['net_income']*0.87):,}",
            ]),
        ])
        return "", text
    # scanned: mostly-empty pages
    text = PAGE_SEP.join(["", " ", "", "x", "", ""])
    return "", text


def _press_release(rng: random.Random) -> tuple[str, str]:
    rev = rng.randrange(1_000, 60_000)
    text = "\n".join([
        "The Keystone Beverage Company today reported fourth quarter and full-year 2025 results.",
        "(NYSE: KBC)",
        f"Net revenues grew to ${rev:,} million for the quarter ended December 31, 2025.",
        "The company raised its full-year outlook.",
    ])
    html = (
        "<html><body><nav><a href='/news'>Newsroom</a></nav>"
        '<div class="page"><p>' + text.replace("\n", "</p><p>") + "</p></div></body></html>"
    )
    return html, text


# filing-shaped text flavor for the DRIVER documents table: doc_id %
# FILING_FLAVOR_MOD == FILING_FLAVOR_REM rows of docs_as_pages swap their
# webtext for filing_text(doc_id), so the flagship sf0.01 hash
# discriminates the G1 splitter, the T8/T16 table machinery, the E-field
# cover extraction, and W1 sequencing over REAL (company, period) groups —
# not only classification + fail-soft (the r4-verdict oracle-net gap)
FILING_FLAVOR_MOD = 10
FILING_FLAVOR_REM = 7


def filing_text(doc_id: int) -> str:
    """Pure function of doc_id: one 10-K/10-Q-shaped page-stream TEXT
    (cover, TOC, statements, MD&A...) from the corpus builders with a
    doc_id-seeded rng.  NOT SQL-re-derivable — consumed only by faces
    whose oracles read the frozen core-path fixture
    (tools/gen_expected.py applies the identical flavor rule)."""
    rng = random.Random(1_000_003 * doc_id + 17)
    k = doc_id // FILING_FLAVOR_MOD  # flavored ordinal: cycles companies
    company, ticker, cik = COMPANIES[k % len(COMPANIES)]
    q = (k // len(COMPANIES)) % 4 + 1
    year = 2024 + (k // (len(COMPANIES) * 4)) % 2
    if q == 4:
        period, form = f"December 31, {year}", "10-K"
    else:
        period, form = f"{_Q_MONTH_DAY[q]}, {year}", "10-Q"
    v = _statement_numbers(rng)
    _, text = _filing_html(company, ticker, cik, period, year, form, v, q)
    return text


def generate_corpus(n_docs: int = 64, seed: int = 42) -> list[dict]:
    """Deterministic corpus rows: url, warc_ts (datetime), html (bytes), text,
    lang.  ~70% clean filings (series per company/quarter), the rest special
    families.  Stable across calls — pure function of (n_docs, seed)."""
    rng = random.Random(seed)
    rows: list[dict] = []
    for i in range(n_docs):
        fam = i % 10
        host = _host_for(rng)
        ts = _EPOCH + timedelta(hours=7 * i, minutes=i % 53)
        if fam < 7:
            ci = i % len(COMPANIES)
            company, ticker, cik = COMPANIES[ci]
            q = (i // len(COMPANIES)) % 4 + 1
            year = 2024 + (i // (len(COMPANIES) * 4))
            if q == 4:
                period, form = f"December 31, {year}", "10-K"
            else:
                period, form = f"{_Q_MONTH_DAY[q]}, {year}", "10-Q"
            v = _statement_numbers(rng)
            html, text = _filing_html(company, ticker, cik, period, year, form, v, q)
            slug = ticker.lower()
            url = f"https://{host}/{slug}/{year}/q{q}/filing-{i:05d}.html"
            rows.append(dict(url=url, warc_ts=ts, html=html.encode(), text=text, lang="en"))
        elif fam == 7:
            html, text = _ifrs_html(rng)
            url = f"https://{host}/ifrs/annual/report-{i:05d}.html"
            rows.append(dict(url=url, warc_ts=ts, html=html.encode(), text=text, lang="no"))
        elif fam == 8:
            kind = ("bold_overlay", "single_col", "scanned")[i % 3]
            html, text = _artifact_html(kind, rng)
            url = f"https://{host}/artifacts/{kind}/doc-{i:05d}.txt"
            rows.append(dict(url=url, warc_ts=ts, html=b"", text=text, lang="en"))
        else:
            html, text = _press_release(rng)
            url = f"https://{host}/news/pr-{i:05d}.html"
            rows.append(dict(url=url, warc_ts=ts, html=html.encode(), text=text, lang="en"))
    return rows
