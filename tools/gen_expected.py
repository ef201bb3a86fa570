"""Generate pdf_parser_spark/sources/expected.py: per-document expected
extraction outputs computed through the CORE path (plain Python, no Spark).

The r2 correctness upgrade (VERDICT item 1): the flagship `extract_pipeline`,
`qc_structural`, and `x_fleet_cross_validate` queries were rows-only in round
1.  Their per-document values are deterministic (seeded corpus + pure
extraction), so this tool runs `core.document.extract_document` directly —
bypassing Spark entirely — and freezes the per-doc tuples.  `oracle_sql()`
then inlines them as VALUES CTEs and re-expresses the DISTRIBUTED parts
(W1 window, quality roll-up, V8 facts join) in DuckDB SQL, so the driver's
hash check verifies exactly the machinery the core path cannot: the Arrow
batching, the window/joins, and the type seams.

Usage: python tools/gen_expected.py          (writes the module, prints counts)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RUN_TS = "2026-08-16T00:00:00Z"  # must match pdf_parser_spark.faces.RUN_TS
# the driver's correctness-gate scale (override for other checkouts)
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
OUT = (sys.argv[1] if len(sys.argv) > 1
       else os.path.join(REPO, "pdf_parser_spark", "sources", "expected.py"))


def _driver_doc_rows() -> list[tuple]:
    """sf0.01 documents -> (url, status, report_type, n_pages, n_sections,
    period_end, company) through the core extraction path."""
    import pyarrow.parquet as pq

    from pdf_parser_spark.core.document import extract_document
    from pdf_parser_spark.sources.corpus import (
        FILING_FLAVOR_MOD,
        FILING_FLAVOR_REM,
        filing_text,
    )

    table = pq.read_table(f"{SF_DIR}/documents.parquet",
                          columns=["doc_id", "source", "text"])
    rows = []
    for doc_id, source, text in zip(
        table["doc_id"].to_pylist(),
        table["source"].to_pylist(),
        table["text"].to_pylist(),
    ):
        url = f"doc://{source}/{doc_id}"
        # the filing-shaped flavor rule, identical to docs_as_pages
        # (pdf_parser_spark/faces/shared.py)
        if doc_id % FILING_FLAVOR_MOD == FILING_FLAVOR_REM:
            text = filing_text(doc_id)
        d = extract_document(url, None, text, RUN_TS)
        rows.append((
            url, d["status"], d["report_type"], d["n_pages"],
            d["n_sections"], d["period_end"], d["company"],
        ))
    return sorted(rows)


def _corpus_extract(n_docs: int) -> list[dict]:
    from pdf_parser_spark.core.document import extract_document
    from pdf_parser_spark.sources.corpus import generate_corpus

    out = []
    for r in generate_corpus(n_docs, 42):
        out.append(extract_document(r["url"], r["html"], r["text"], RUN_TS))
    return out


def _qc_rows() -> list[tuple]:
    """synthetic_pages(96) -> ok docs -> (url, check, passed) per check."""
    from pdf_parser_spark.core.quality import structural_checks

    rows = []
    for d in _corpus_extract(96):
        if d["status"] != "ok":
            continue
        for c in structural_checks(d["markdown"] or "", d["filing_type"]):
            rows.append((d["url"], c.check, bool(c.passed)))
    return sorted(rows)


def _fleet_pdf_rows() -> list[tuple]:
    """synthetic_pages(60) -> ok docs with cik -> exploded
    (url, cik zero-padded to 10, canonical, pdf_val)."""
    rows = []
    for d in _corpus_extract(60):
        if d["status"] != "ok" or not d["cik"]:
            continue
        cik = d["cik"].rjust(10, "0")
        for canonical, val in (d["statement_values"] or {}).items():
            rows.append((d["url"], cik, canonical, float(val)))
    return sorted(rows)


def _kmeans_centroids(sample_bp: int | None = None) -> list[list[float]]:
    """Numpy twin of similarity.kmeans_fit over sf0.01 embeddings: same
    seeds (k lowest vec_ids), same argmin-first tie-break, same per-round
    KMEANS_ROUND_DP rounding (the determinism guard that makes the Spark fit
    and this twin land on identical centroid literals).  ``sample_bp``
    mirrors kmeans_fit's md5-deterministic fit-on-sample filter."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from pdf_parser_spark.operators.similarity import (
        KMEANS_ITERS, KMEANS_K, KMEANS_ROUND_DP,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist())
    order = np.argsort(ids)
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)[order]
    # seeds come from the FULL table (k lowest vec_ids) even in sample mode
    cents = np.round(X[:KMEANS_K].copy(), KMEANS_ROUND_DP)
    if sample_bp is not None:
        keep = np.asarray([
            int(hashlib.md5(str(int(i)).encode()).hexdigest()[:8], 16) % 10000
            < sample_bp
            for i in ids[order]
        ])
        X = X[keep]
    for _ in range(KMEANS_ITERS):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)  # first-min tie-break, matching array_position
        new = cents.copy()
        for c in range(KMEANS_K):
            mask = assign == c
            if mask.any():
                new[c] = X[mask].mean(0)
        new = np.round(new, KMEANS_ROUND_DP)
        if (new == cents).all():
            break
        cents = new
    return [[float(x) for x in row] for row in cents]


def _pq_codebooks() -> list[list[list[float]]]:
    """Numpy twin of similarity.pq_fit over sf0.01 embeddings: the SAME
    Lloyd twin as _kmeans_centroids run independently on each of the PQ_M
    subvector slices with k=PQ_KSUB (seeds = the PQ_KSUB lowest vec_ids'
    sliced subvectors, first-min ties, KMEANS_ROUND_DP per-round rounding).
    The Spark query fits its OWN codebooks, so a fit divergence in any
    subspace hash-mismatches the s_ann_pq oracle."""
    import numpy as np
    import pyarrow.parquet as pq

    from pdf_parser_spark.operators.similarity import (
        KMEANS_ITERS, KMEANS_ROUND_DP, PQ_KSUB, PQ_M,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist())
    order = np.argsort(ids)
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)[order]
    sub = X.shape[1] // PQ_M
    books = []
    for s in range(PQ_M):
        Xs = X[:, s * sub:(s + 1) * sub]
        cents = np.round(Xs[:PQ_KSUB].copy(), KMEANS_ROUND_DP)
        for _ in range(KMEANS_ITERS):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            new = cents.copy()
            for c in range(PQ_KSUB):
                mask = assign == c
                if mask.any():
                    new[c] = Xs[mask].mean(0)
            new = np.round(new, KMEANS_ROUND_DP)
            if (new == cents).all():
                break
            cents = new
        books.append([[float(x) for x in row] for row in cents])
    return books


def _pq_residual_codebooks(centroids: list[list[float]]) -> list[list[list[float]]]:
    """Numpy twin of similarity.pq_fit_residual: assign each sf0.01 vector
    to its nearest frozen coarse centroid (first-min tie-break), subtract to
    form residuals, then run the per-subspace Lloyd twin on the residual
    slices (seeds = the PQ_KSUB lowest vec_ids' residual slices, same
    KMEANS_ROUND_DP per-round rounding).  The Spark query fits its OWN
    residual codebooks, so a divergence in either stage hash-mismatches the
    s_ann_ivfpq_residual oracle."""
    import numpy as np
    import pyarrow.parquet as pq

    from pdf_parser_spark.operators.similarity import (
        KMEANS_ITERS, KMEANS_ROUND_DP, PQ_KSUB, PQ_M,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist())
    order = np.argsort(ids)
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)[order]
    cents = np.asarray(centroids, dtype=np.float64)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    R = X - cents[d2.argmin(1)]
    sub = X.shape[1] // PQ_M
    books = []
    for s in range(PQ_M):
        Rs = R[:, s * sub:(s + 1) * sub]
        cc = np.round(Rs[:PQ_KSUB].copy(), KMEANS_ROUND_DP)
        for _ in range(KMEANS_ITERS):
            dd = ((Rs[:, None, :] - cc[None, :, :]) ** 2).sum(-1)
            assign = dd.argmin(1)
            new = cc.copy()
            for c in range(PQ_KSUB):
                mask = assign == c
                if mask.any():
                    new[c] = Rs[mask].mean(0)
            new = np.round(new, KMEANS_ROUND_DP)
            if (new == cc).all():
                break
            cc = new
        books.append([[float(x) for x in row] for row in cc])
    return books


def _unigram_vocab() -> list[tuple[str, int]]:
    """Pure-Python twin of textstats.unigram_fit_local over sf0.01
    documents: the SAME _word_counts_py count, (freq desc, word asc) head
    cap, and _unigram_em fit — shared function, not a re-implementation —
    so the Spark face's own distributed count + driver fit must reproduce
    these rows bit-for-bit or the t_unigram_vocab hash mismatches."""
    import pyarrow.parquet as pq

    from pdf_parser_spark.operators.textstats import (
        UNIGRAM_WORD_CAP, _unigram_em, _word_counts_py,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    counts = _word_counts_py(t["text"].to_pylist())
    head = sorted(counts.items(), key=lambda wf: (-wf[1], wf[0]))
    return _unigram_em(head[:UNIGRAM_WORD_CAP])


def main() -> None:
    from pdf_parser_spark.operators.similarity import KMEANS_SAMPLE_BP

    extract_rows = _driver_doc_rows()
    qc_rows = _qc_rows()
    fleet_rows = _fleet_pdf_rows()
    centroids = _kmeans_centroids()
    sample_centroids = _kmeans_centroids(sample_bp=KMEANS_SAMPLE_BP)
    pq_books = _pq_codebooks()
    pq_res_books = _pq_residual_codebooks(centroids)
    unigram_vocab = _unigram_vocab()

    def render(rows: list[tuple]) -> str:
        body = ",\n    ".join(repr(r) for r in rows)
        return f"[\n    {body},\n]"

    src = f'''"""GENERATED by tools/gen_expected.py — do not edit by hand.

Expected per-document outputs of the core extraction path (no Spark) over the
deterministic inputs the driver-gate queries use: sf0.01 documents for
`extract_pipeline`, the seed-42 synthetic corpus for `qc_structural` (96 docs)
and `x_fleet_cross_validate` (60 docs).  The oracle SQL of those faces
(`pdf_parser_spark/faces/`) inlines these as VALUES CTEs and re-expresses the
distributed logic (W1 window, quality roll-up, V8 facts join) in DuckDB SQL;
regenerate after any change to the extraction semantics (differential fuzz +
golden tests gate those).
"""

EXTRACT_DOC_COLS = [
    "url", "status", "report_type", "n_pages", "n_sections",
    "period_end", "company",
]
EXTRACT_DOC_ROWS = {render(extract_rows)}

QC_CHECK_COLS = ["url", "check", "passed"]
QC_CHECK_ROWS = {render(qc_rows)}

FLEET_PDF_COLS = ["url", "cik", "canonical", "pdf_val"]
FLEET_PDF_ROWS = {render(fleet_rows)}

# kmeans coarse-quantizer centroids over sf0.01 embeddings (numpy twin of
# similarity.kmeans_fit; k={len(centroids)}, dim={len(centroids[0])})
KMEANS_CENTROIDS = {render(centroids)}

# fit-on-sample twin: same Lloyd twin restricted to the md5-deterministic
# {KMEANS_SAMPLE_BP}bp sample (similarity.KMEANS_SAMPLE_BP)
KMEANS_SAMPLE_CENTROIDS = {render(sample_centroids)}

# product-quantization codebooks (numpy twin of similarity.pq_fit;
# m={len(pq_books)} subspaces x k={len(pq_books[0])} centroids x
# {len(pq_books[0][0])} dims each)
PQ_CODEBOOKS = {render(pq_books)}

# residual-encoding codebooks (numpy twin of similarity.pq_fit_residual:
# Lloyd over residuals w.r.t. KMEANS_CENTROIDS — Jegou PAMI 2011 SIV-A)
PQ_RESIDUAL_CODEBOOKS = {render(pq_res_books)}

# unigram-LM tokenizer vocabulary over sf0.01 (pure-Python twin sharing
# textstats._unigram_em verbatim; {len(unigram_vocab)} pieces)
UNIGRAM_VOCAB = {render(unigram_vocab)}
'''
    with open(OUT, "w") as f:
        f.write(src)
    print(f"extract: {len(extract_rows)} rows; qc: {len(qc_rows)} rows; "
          f"fleet: {len(fleet_rows)} rows -> {OUT}")


if __name__ == "__main__":
    main()
