"""Mapping micro-batch progress to per-page delivery times."""

from __future__ import annotations

from perfbench.tail import batch_end_pages, page_commit_times


def _progress(batch_id: int, start, end: int) -> dict:
    return {
        "batchId": batch_id,
        "sources": [
            {"startOffset": None if start is None else {"page": start}, "endOffset": {"page": end}}
        ],
    }


def test_end_offsets_by_batch():
    prog = [_progress(0, None, 5), _progress(1, 5, 7), _progress(2, 7, 7)]
    assert batch_end_pages(prog) == {0: 5, 1: 7, 2: 7}


def test_page_lands_with_first_batch_covering_it():
    ends = {0: 5, 1: 6, 2: 9, 3: 9, 4: 10}
    landed = {0: 100.0, 1: 101.0, 2: 103.5, 3: 104.0, 4: 105.0}
    got = page_commit_times(ends, landed, range(6, 11))
    assert got == {6: 101.0, 7: 103.5, 8: 103.5, 9: 103.5, 10: 105.0}


def test_page_without_manifest_is_undelivered():
    got = page_commit_times({0: 5, 1: 8}, {0: 10.0}, [6, 9])
    assert got == {6: None, 9: None}
