"""The feed a seed produces is fixed: same seed, same bytes."""

from __future__ import annotations

from perfbench.feed import fetch_page, layout, publish_head, write_feed


def _records(n: int = 57) -> list[dict]:
    return [
        {"filingId": i, "filerName": f"F{i}", "scheduleA1": [{"id": j} for j in range(i % 4)]}
        for i in range(n)
    ]


def test_same_seed_same_digest(tmp_path):
    a = write_feed(str(tmp_path / "a"), layout(_records(), 7, 10), visible=6)
    b = write_feed(str(tmp_path / "b"), layout(_records(), 7, 10), visible=6)
    assert a == b


def test_other_seed_other_digest(tmp_path):
    a = write_feed(str(tmp_path / "a"), layout(_records(), 7, 10), visible=6)
    b = write_feed(str(tmp_path / "b"), layout(_records(), 8, 10), visible=6)
    assert a != b


def test_layout_publishes_every_record_once():
    pages = layout(_records(), 3, 10)
    assert [len(p) for p in pages] == [10] * 5 + [7]
    ids = sorted(r["filingId"] for p in pages for r in p)
    assert ids == list(range(57))


def test_fetch_page_reports_the_published_head(tmp_path):
    class Config:
        url = "file://" + str(tmp_path)

    pages = layout(_records(), 1, 10)
    write_feed(str(tmp_path), pages, visible=2)
    body = fetch_page(Config, 1)
    assert body["totalMatchingPages"] == 2
    assert body["filings"] == pages[0]
    publish_head(str(tmp_path), 5)
    assert fetch_page(Config, 4)["totalMatchingPages"] == 5


def test_mix_order_and_digest_follow_the_seed():
    from perfbench.mix import QUERIES, QueryMix

    a, b, c = (QueryMix(None, seed) for seed in (5, 5, 6))
    assert a.order == b.order and a.digest() == b.digest()
    assert sorted(a.order) == sorted(QUERIES)
    assert (a.order, a.digest()) != (c.order, c.digest())
