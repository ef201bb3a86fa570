"""Output check of one run_batch output against the core path."""

from __future__ import annotations

import sys

from collections import Counter


def check_run(expected: set[str], ref: dict, got: dict) -> list[str]:
    """Mismatches between one run's sinks (``got``, from Batch.readback) and
    the expected url set plus the core-path reference (``ref``, from
    kernel.reference).  Empty means the run is correct."""
    problems = []
    urls = [u for u, _ in got["status"]]
    seen = set(urls)
    problems += [f"missing url {u}" for u in sorted(expected - seen)]
    problems += [f"unexpected url {u}" for u in sorted(seen - expected)]
    problems += [f"duplicate url {u}" for u, k in Counter(urls).items() if k > 1]
    problems += [
        f"status {s!r} != core {ref[u][0]!r} for {u}"
        for u, s in got["status"] if u in expected and s != ref[u][0]
    ]
    have, want = Counter(got["consistency"]), Counter(urls)
    problems += [f"consistency rows for {u} off by {k}"
                 for u, k in ((have - want) + (want - have)).items()]
    for u, (md, spans) in ((u, ref[u][2]) for u in sorted(ref) if ref[u][2] and u in expected):
        if got["detail"].get(u) != (md, spans):
            problems.append(f"markdown/spans differ from core for {u}")
    return problems


def tally(expected: set[str], ref: dict, runs: list[dict], n_rows: int) -> tuple[int, int, bool]:
    """(attempted, failed, correct) over checked runs.  A run that fails its
    check counts all its rows as failed; otherwise its error rows fail."""
    attempted = failed = 0
    correct = True
    for got in runs:
        problems = check_run(expected, ref, got)
        for p in problems[:10]:
            print(f"check failed: {p}", file=sys.stderr)
        attempted += n_rows
        if problems:
            correct = False
            failed += n_rows
        else:
            failed += sum(1 for _, s in got["status"] if s == "error")
    return attempted, failed, correct
