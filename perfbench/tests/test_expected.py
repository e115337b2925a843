"""The page-derived row counts agree with the pipeline's own oracle."""

from __future__ import annotations

import pytest

from perfbench import checks, expected


def test_outer_explode_semantics():
    filing = {
        "filingId": 1,
        "scheduleA1": [],
        "scheduleA2": [
            {"id": 1, "realProperties": [{"p": 1}, {"p": 2}]},
            {"id": 2, "realProperties": []},
            {"id": 3, "realProperties": None},
        ],
        "scheduleB": None,
        "scheduleD": [{"id": 1, "gifts": [{"g": 1}]}],
        "comments": [{"id": 1}, {"id": 2}],
    }
    rows = {b: expected.filing_rows(filing, b) for b in expected.BASES}
    assert rows == {
        "cover": 1,
        "scheduleA1": 1,
        "scheduleA2": 4,
        "scheduleB": 1,
        "scheduleC": 1,
        "scheduleD": 1,
        "scheduleE": 1,
        "comments": 2,
    }


def _feed_records():
    from perfbench.feed import cached_paths, load_records

    paths = cached_paths()
    if paths is None:
        pytest.importorskip("pyspark")
        from form700_etl_spark.session import get_spark

        from perfbench.feed import build_cache

        paths = build_cache(get_spark("perfbench-tests"))
    return load_records(paths[0])


def test_counts_match_dual_audit_oracle():
    con = checks.oracle_connection()
    oracle = checks.dual_audit_counts(con)
    con.close()
    assert len(oracle) == 16
    assert expected.dataset_counts(_feed_records()) == oracle
