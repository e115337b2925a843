"""Paginated REST source — the reference's extract path, re-planned for Spark.

Reference behavior (SURVEY §2.1, /root/reference/Form700.py):
- S1 ``grabCookies`` (:107-113): authenticate once, reuse cookies.
- S2 ``makeRequest`` (:115-127): POST {AgencyPrefix, CurrentPageIndex,
  PageSize=1000, IsRedacted}, parse the JSON body.
- S3 ``getJsonData`` (:129-144): serial page loop; the page count is
  re-read from every response's ``totalMatchingPages``; pages are
  list-concatenated (a UNION ALL across pages).
- S4/S5: pluck ``'filings'`` / per-schedule keys, flatten.

Spark re-plan: the driver fetches page 1 once to learn the page count
(S3's in-flight cardinality discovery becomes a cheap probe), then the
remaining pages are fetched **in parallel on executors** via
``spark.range(n_pages)`` + ``mapInPandas`` (one HTTP call per page
task, Arrow-batched rows out), and parsed with an explicit schema via
``from_json`` — no driver bottleneck, no schema inference. At 100 TB
the same shape holds: page ids are just a partitioned integer domain,
and fetch parallelism is governed by ordinary task scheduling
(plus ``max_parallel_pages`` to be polite to the upstream API).

The HTTP transport is injectable (``fetch_page``) so tests run against
an in-process fake; the real transport uses ``requests`` behind an
import-try (not baked into the test image).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FetchPage = Callable[["RestSourceConfig", int], dict]
"""(config, 1-based page index) -> decoded JSON page body."""


@dataclass(frozen=True)
class RestSourceConfig:
    url: str
    agency_prefix: str = ""
    page_size: int = 1000  # reference default, Form700.py:95
    is_redacted: bool = False
    auth_url: str | None = None
    username: str | None = None
    password: str | None = None
    extra: dict = field(default_factory=dict)
    max_parallel_pages: int = 16
    # per-page retry (reference K5-style policy on the source side)
    tries: int = 5
    retry_delay_s: float = 0.2
    retry_backoff: float = 2.0


def _fetch_with_retry(fetch_page: FetchPage, config: RestSourceConfig, page: int) -> dict:
    import time

    delay = config.retry_delay_s
    for attempt in range(config.tries):
        try:
            return fetch_page(config, page)
        except Exception:
            if attempt == config.tries - 1:
                raise
            time.sleep(delay)
            delay *= config.retry_backoff
    raise AssertionError("unreachable")


def page_records(body: dict, key_to_pluck: str | None) -> list:
    """S4: the records of one decoded page — ``body[key_to_pluck]``, else
    ``body['items']``, else the body itself; a lone record becomes a
    one-item list."""
    payload = body.get(key_to_pluck) if key_to_pluck else body.get("items", body)
    return payload if isinstance(payload, list) else [payload]


def requests_fetch_page(config: RestSourceConfig, page: int) -> dict:
    """Real transport (S1+S2): cookie auth once per task, then POST the
    page request.  Import-gated: the bench/test image has no network."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError("the 'requests' package is required for live REST extraction") from exc
    session = requests.Session()
    if config.auth_url:
        session.post(config.auth_url, data={"username": config.username, "password": config.password})
    resp = session.post(
        config.url,
        json={
            "AgencyPrefix": config.agency_prefix,
            "CurrentPageIndex": page,
            "PageSize": config.page_size,
            "IsRedacted": config.is_redacted,
            **config.extra,
        },
    )
    resp.raise_for_status()
    return resp.json()


class PaginatedRestSource:
    """Parallel paginated scan: probe page 1 on the driver, fan the rest
    out to executors, return one DataFrame of raw page payloads or a
    parsed/flattened DataFrame when a schema is given."""

    def __init__(self, config: RestSourceConfig, fetch_page: FetchPage = requests_fetch_page):
        self.config = config
        self.fetch_page = fetch_page

    def probe(self) -> tuple[int, dict]:
        """Driver-side page-1 probe: returns (total_pages, first_page)."""
        first = _fetch_with_retry(self.fetch_page, self.config, 1)
        return int(first.get("totalMatchingPages", 1)), first

    def read_pages(self, spark: SparkSession, key_to_pluck: str | None = None) -> DataFrame:
        """Fetch all pages; one row per record, column ``value`` holding
        the record's JSON text plus a ``page`` provenance column."""
        total_pages, first = self.probe()
        config, fetch_page = self.config, self.fetch_page

        def records_of(page_body: dict, page_idx: int) -> list[tuple[int, str]]:
            return [
                (page_idx, json.dumps(rec, sort_keys=True))
                for rec in page_records(page_body, key_to_pluck)
            ]

        first_rows = records_of(first, 1)

        def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: list[tuple[int, str]] = []
                for page_idx in pdf["id"].tolist():
                    body = _fetch_with_retry(fetch_page, config, int(page_idx))
                    out.extend(records_of(body, int(page_idx)))
                yield pd.DataFrame(out, columns=["page", "value"])

        if total_pages <= 1:
            return spark.createDataFrame(first_rows, "page int, value string")
        rest = (
            spark.range(2, total_pages + 1)
            .repartition(min(total_pages - 1, config.max_parallel_pages))
            .mapInPandas(fetch_partition, schema="page int, value string")
        )
        head = spark.createDataFrame(first_rows, "page int, value string")
        return head.unionByName(rest)

    def read(
        self,
        spark: SparkSession,
        schema: str,
        key_to_pluck: str | None = None,
    ) -> DataFrame:
        """S4/S5: parse each record with an explicit schema (``from_json``)
        and flatten the top-level struct — nested fields stay nested as
        proper Spark structs/arrays (richer than the reference, which
        destroys nesting eagerly with json_normalize)."""
        raw = self.read_pages(spark, key_to_pluck=key_to_pluck)
        return raw.select(F.from_json("value", schema).alias("r")).select("r.*")
