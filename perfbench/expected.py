"""Rows each dataset must receive from a set of filings, computed from
the page records without Spark.

It mirrors the routing of ``run_form700_pipeline``: every schedule is an
``explode_outer`` of the filing's array (an empty or missing array still
yields one row), and inside scheduleA2 and scheduleD the
``realProperties`` and ``gifts`` arrays explode the same way.  Every
other list column is stringified and adds no rows.  The redacted twins
receive the same rows.
"""

from __future__ import annotations

from collections.abc import Iterable

BASES = (
    "cover",
    "scheduleA1",
    "scheduleA2",
    "scheduleB",
    "scheduleC",
    "scheduleD",
    "scheduleE",
    "comments",
)
NESTED_EXPLODE = {"scheduleA2": "realProperties", "scheduleD": "gifts"}


def _outer(items) -> list:
    return list(items) if items else [None]


def filing_rows(filing: dict, base: str) -> int:
    if base == "cover":
        return 1
    child = NESTED_EXPLODE.get(base)
    rows = 0
    for item in _outer(filing.get(base)):
        if child is None:
            rows += 1
        else:
            rows += len(_outer((item or {}).get(child)))
    return rows


def dataset_counts(
    filings: Iterable[dict], bases: tuple[str, ...] = BASES, redacted: bool = True
) -> dict[str, int]:
    counts = dict.fromkeys(bases, 0)
    for filing in filings:
        for base in bases:
            counts[base] += filing_rows(filing, base)
    if redacted:
        counts.update({f"{base}_redacted": counts[base] for base in bases})
    return counts
