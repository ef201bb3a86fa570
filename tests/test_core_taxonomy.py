"""Normalization + cross-filing consistency semantics
(mirrors reference tests/test_normalize.py and tests/test_consistency.py)."""

from pdf_parser_spark.core.taxonomy import (
    alias_index,
    backfill_mappings,
    first_wins_mappings,
    match_line_item,
    normalize_rows,
)


def test_index_size_and_content():
    idx = alias_index()
    # 61 canonicals + 208 aliases, minus duplicate keys across sections
    assert len(idx) == 224
    assert idx["net revenues"] == "Revenue"
    assert idx["total assets"] == "Total Assets"


def test_exact_match():
    r = match_line_item("Net revenues")
    assert (r.canonical, r.confidence, r.method) == ("Revenue", 1.0, "exact")


def test_exact_match_is_case_insensitive():
    r = match_line_item("NET REVENUES")
    assert r.canonical == "Revenue" and r.method == "exact"


def test_fuzzy_match():
    r = match_line_item("Revenues, net")
    assert r.method == "fuzzy"
    assert r.canonical == "Revenue"
    assert r.confidence >= 0.85


def test_no_match_returns_none():
    r = match_line_item("Goodwill impairment charge adjustment")
    assert r.canonical is None
    assert r.method == "none"


def test_empty_label():
    r = match_line_item("   ")
    assert r == (None, 0.0, "none")


def test_normalize_rows_inserts_canonical_at_1():
    rows = [["Net revenues", "$ 100", "$ 90"], ["Cost of sales", "40", "35"]]
    out = normalize_rows(rows)
    assert out[0][:2] == ["Net revenues", "Revenue"]
    assert out[1][:2] == ["Cost of sales", "Cost of Revenue"]
    assert out[0][2:] == ["$ 100", "$ 90"]


def test_normalize_skips_headers_and_numeric_rows():
    rows = [
        ["Current assets:", "", ""],
        ["2024", "2023", ""],
        ["Marketable securities", "5", "6"],
    ]
    out = normalize_rows(rows)
    assert out[0][1] == ""  # colon header
    assert out[1][1] == ""  # numeric first cell
    # context was set to "current" by the header row
    assert out[2][1] == "Short-Term Investments"


def test_normalize_context_flips_to_non_current():
    rows = [
        ["Non-current assets:", "", ""],
        ["Marketable securities", "5", "6"],
    ]
    out = normalize_rows(rows)
    assert out[1][1] == "Long-Term Investments"


def test_first_wins_and_backfill():
    filings = [
        {"Net revenues": "Revenue", "Cost of sales": "Cost of Revenue"},
        {"Net revenues": "", "Cost of sales": "Cost of Revenue"},
    ]
    merged = first_wins_mappings(filings)
    assert merged["Net revenues"] == "Revenue"
    filled = backfill_mappings(filings)
    assert filled[1]["Net revenues"] == "Revenue"


def test_backfill_no_conflict_between_labels():
    filings = [{"Net revenues": "Revenue"}, {"Total revenues": "Revenue"}]
    out = backfill_mappings(filings)
    assert out[0] == {"Net revenues": "Revenue"}
    assert out[1] == {"Total revenues": "Revenue"}


def test_backfill_empty_input():
    assert backfill_mappings([]) == []


def test_fuzzy_canonical_fast_path_matches_full_scan():
    """_canonical_default_index (bound-cascade prune, canonical-only) must
    equal match_line_item(...).canonical for every needle class: exact hits,
    fuzzy hits, near-threshold cases, and garbage.  Differential over the
    alias set with deterministic perturbations."""
    import random

    from pdf_parser_spark.core.taxonomy import (
        _canonical_default_index,
        _match_default_index,
    )

    rng = random.Random(7)
    needles: list[str] = []
    for alias in alias_index():
        needles.append(alias)  # exact
        if len(alias) > 4:
            i = rng.randrange(len(alias))
            needles.append(alias[:i] + alias[i + 1:])       # deletion
            needles.append(alias[:i] + "x" + alias[i:])      # insertion
            needles.append(alias[:i] + "z" + alias[i + 1:])  # substitution
            needles.append(alias + " and other")             # suffix noise
    needles += ["", "zzzz", "total q", "the quick brown fox", "1,234"]
    for needle in needles:
        needle = needle.lower()
        want = _match_default_index(needle).canonical
        got = _canonical_default_index(needle)
        assert got == want, f"fast path diverged for {needle!r}: {got} != {want}"


def test_collapse_gate_regex_equals_run_walk():
    """The C-regex run gate must count exactly what _char_runs tallies."""
    import re as _re

    from pdf_parser_spark.core.textrepair import (
        _MULTI_RUN_RE,
        _RUN_RE,
        _char_runs,
    )

    samples = [
        "YYYeeeaaarrr", "TToottaall", "Total revenues", "  spaced  out  ",
        "aaa bbb ccc", "a" * 30, "ab" * 15, "x", "", "$$ 1,,2233",
        "CPoremfemrreond SSttcoockk", "Net\tincome", "——  ——",
    ]
    for s in samples:
        runs = _char_runs(s)
        groups = sum(1 for ch, _ in runs if ch != " ")
        multi = sum(1 for ch, r in runs if ch != " " and r >= 2)
        assert len(_RUN_RE.findall(s)) == groups, s
        assert len(_MULTI_RUN_RE.findall(s)) == multi, s
