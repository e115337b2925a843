"""compare.py refuses runs that served different feeds."""

from __future__ import annotations

from perfbench.compare import digest_conflicts, tracing_overhead


def _run(workload, seed, digest, trace=0, **metrics):
    detail = {"workload": workload, "seed": seed, "feed_digest": digest, "trace": trace}
    return {"detail": detail, "metrics": metrics}


def test_same_feed_compares():
    base = [_run("publish_dual", 1, "aa"), _run("publish_dual", 2, "bb")]
    new = [_run("publish_dual", 1, "aa"), _run("publish_dual", 2, "bb")]
    assert digest_conflicts(base, new) == []


def test_different_feed_for_a_seed_is_refused():
    base = [_run("publish_dual", 1, "aa")]
    new = [_run("publish_dual", 1, "ab")]
    assert digest_conflicts(base, new) == ["publish_dual seed 1: feed digests differ ['aa', 'ab']"]


def test_tracing_overhead_against_untraced_median():
    runs = [
        _run("filings_tail", 1, "x", trace=0, latency_p50_s=1.0),
        _run("filings_tail", 2, "y", trace=0, latency_p50_s=1.2),
        _run("filings_tail", 3, "z", trace=1, **{"traced.latency_p50_s": 1.21}),
    ]
    over = tracing_overhead(runs)["filings_tail"]["latency_p50_s"]
    assert abs(over - 0.1) < 1e-9
