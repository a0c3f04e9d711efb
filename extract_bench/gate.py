"""Correctness gate: compare the engine's output with the oracle.

Two checks, both outside the timed window:

- per url, (status, sha256(extracted_text)) must equal the single-process
  oracle from ``corpus.py``; a missing, extra, duplicated or differing row is
  one failed document;
- for the seeds recorded in ``expected.json``, the sha256 of the sorted
  output and (for ``daily_ingest``) the survivor count must equal the
  recorded values.  An in-process oracle moves with a kernel change; the
  recorded values do not.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def output_digest(rows) -> str:
    """sha256 over the url-sorted ``url\\tstatus\\ttext_sha`` lines."""
    h = hashlib.sha256()
    for url, status, sha in sorted(rows):
        h.update(f"{url}\t{status}\t{sha}\n".encode("utf-8"))
    return h.hexdigest()


def compare(oracle: dict[str, list[str]], rows, subset: bool = False) -> int:
    """Failed documents of one output against the oracle.

    *rows* is an iterable of (url, status, text_sha).  With *subset* the output
    may omit oracle urls (dedup survivors); otherwise each omission fails.
    """
    seen: set[str] = set()
    failed = 0
    for url, status, sha in rows:
        if url in seen:
            failed += 1
            continue
        seen.add(url)
        expected = oracle.get(url)
        if expected is None or [status, sha] != list(expected):
            failed += 1
    if not subset:
        failed += sum(1 for url in oracle if url not in seen)
    return failed


def recorded(workload: str, size: int, seed: int) -> dict | None:
    """Recorded {'sha256': ..., ['survivors': ...]} for this run, if any."""
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh).get(f"{workload}:{size}", {}).get(str(seed))
