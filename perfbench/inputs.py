"""Workload inputs: seeded rows from ``generate_corpus`` written as parquet.

Everything here is a pure function of (workload, seed) and runs before any
timed interval.  The expected output url set is computed here too, in plain
Python, from the same rows the program reads.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.sources.corpus import generate_corpus

RUN_TS = "2024-06-30T00:00:00Z"

# generate_corpus rows per workload.  run_batch costs several seconds of
# per-task and per-job overhead at any size, so the input is sized for two
# timed calls inside the measuring window on a 4-core host.
ROWS = 1600

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Workload:
    name: str
    rows: list[dict]   # the pages table run_batch reads
    prior: list[dict]  # seeded 3/4 of the urls: resume_mirrors' prior run

    @property
    def in_bytes(self) -> int:
        return sum(len(r["html"] or b"") + len((r["text"] or "").encode())
                   for r in self.rows)


def dedup_urls(rows: list[dict]) -> set[str]:
    """Python model of ``dedup_pages``: the min url per payload, where
    payloads match byte for byte and NULL differs from empty."""
    best: dict[tuple, str] = {}
    for r in rows:
        k = (r["html"], r["text"])
        best[k] = min(r["url"], best.get(k, r["url"]))
    return set(best.values())


def _mirror(row: dict) -> dict:
    """A byte-identical copy of a page under another host."""
    path = row["url"].split("://", 1)[1].split("/", 1)[1]
    return dict(row, url=f"https://mirror.example/{path}")


def make_workload(name: str, seed: int) -> Workload:
    if name not in ("html_filings", "text_filings", "resume_mirrors"):
        raise ValueError(f"unknown workload {name!r}")
    rows = generate_corpus(ROWS, seed)
    if name == "text_filings":
        rows = [dict(r, html=None) for r in rows]
    rng = random.Random(f"{name}:{seed}")
    order = rng.sample(range(len(rows)), len(rows))
    cut = 3 * len(rows) // 4
    prior = [rows[i] for i in sorted(order[:cut])]
    if name == "resume_mirrors":
        # the pending quarter arrives again as byte-identical mirrors
        rows = rows + [_mirror(rows[i]) for i in sorted(order[cut:])]
    return Workload(name, rows, prior)


def expected_urls(w: Workload) -> set[str]:
    """The url set the ``extracted`` sink must hold after the timed run."""
    if w.name != "resume_mirrors":
        return {r["url"] for r in w.rows}
    done = dedup_urls(w.prior)
    return done | dedup_urls([r for r in w.rows if r["url"] not in done])


def write_parquet(rows: list[dict], path: str) -> str:
    table = pa.Table.from_pydict(
        {c: [r[c] for r in rows] for c in _PAGES_SCHEMA.names},
        schema=_PAGES_SCHEMA,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-0000.parquet")
    return path
