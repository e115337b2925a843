"""Paginated REST scan as a real Spark Python DataSource (V2 API).

The mapInPandas fetcher in ``rest.py`` is the workhorse; this module
exposes the same scan through Spark 4's ``pyspark.sql.datasource``
API so it composes with the normal reader surface:

    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .schema(schema_ddl)
          .option("transport", "form700_etl_spark.sources.fake:fake_fetch_page")
          .option("url", "fake://filings")
          .option("key_to_pluck", "filings")
          .load())

Planning mirrors the reference's dynamic page-count discovery
(/root/reference/Form700.py:129-144): ``partitions()`` probes page 1
on the driver, then emits ONE InputPartition PER PAGE, so Spark
schedules page fetches exactly like file splits — parallel and
locality-free; every fetch, probes included, retries with
``RestSourceConfig``'s backoff as ``PaginatedRestSource`` does.
Options travel as strings (the V2 contract), so the transport is
named as ``module:function`` and imported inside the executor.
"""

from __future__ import annotations

import importlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .rest import RestSourceConfig, _fetch_with_retry, page_records


def _fetch(transport_spec: str, config: RestSourceConfig, page: int) -> dict:
    """One page through the ``module:function`` transport, retried with
    the config's backoff — under ``local[N]`` Spark does not retry a
    failed task, so a transient page error must not reach it."""
    mod, _, fn = transport_spec.partition(":")
    fetch_page = getattr(importlib.import_module(mod), fn)
    return _fetch_with_retry(fetch_page, config, page)


def _total_pages(transport_spec: str, config: RestSourceConfig) -> int:
    return int(_fetch(transport_spec, config, 1).get("totalMatchingPages", 1))


class _PagePartition(InputPartition):
    def __init__(self, page: int):
        self.page = page


def _options_to_config(options) -> RestSourceConfig:
    return RestSourceConfig(
        url=options.get("url", ""),
        agency_prefix=options.get("agency_prefix", ""),
        page_size=int(options.get("page_size", "1000")),
        is_redacted=options.get("is_redacted", "false").lower() == "true",
    )


def _read_page(config, transport_spec, key_to_pluck, schema, page) -> Iterator[tuple]:
    """Fetch one page on the executor and yield schema-ordered tuples —
    shared by the batch and streaming readers (one page == one task)."""
    body = _fetch(transport_spec, config, page)
    field_names = [f.name for f in schema.fields]
    for rec in page_records(body, key_to_pluck):
        yield tuple(_coerce(rec.get(name)) for name in field_names)


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.options = options
        self.config = _options_to_config(options)
        self.transport_spec = options["transport"]
        self.key_to_pluck = options.get("key_to_pluck")

    def partitions(self):
        total = _total_pages(self.transport_spec, self.config)
        return [_PagePartition(p) for p in range(1, total + 1)]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        yield from _read_page(
            self.config, self.transport_spec, self.key_to_pluck, self.schema,
            partition.page,
        )


class PaginatedRestStreamReader(DataSourceStreamReader):
    """Streaming twin of the paginated scan: the page index IS the offset.

    The reference re-extracts every page every run (Form700.py:129-144,
    full replace at :482).  The streaming reader instead treats the feed
    as an append-only page log and makes extraction *incremental*:

    - ``latestOffset`` probes page 1 on the driver for the current
      ``totalMatchingPages`` (the same dynamic-cardinality discovery the
      batch planner does); feed GROWTH is admitted at most
      ``max_pages_per_batch`` pages per micro-batch, while the first
      batch of a run covers the backlog in one go (the Python stream
      API has no admission-control hook that sees the start offset, so
      a run-local throttle below the committed page would rewind);
    - ``partitions(start, end)`` emits one InputPartition per page in
      ``(start, end]`` — page fetches parallelize across executors and
      retry per fetch, exactly like the batch reader;
    - offsets are checkpointed by the engine, so restart resumes after
      the last *committed* page instead of re-extracting the world —
      replace-the-world becomes exactly-once page tailing;
    - ``readBetweenOffsets`` replay comes free: partitions are a pure
      function of the offset pair, so recovery re-plans the same pages.

    Offsets must be monotone: a shrinking feed (pages deleted upstream)
    holds the offset rather than rewinding.
    """

    def __init__(self, schema, options):
        self.schema = schema
        self.config = _options_to_config(options)
        self.transport_spec = options["transport"]
        self.key_to_pluck = options.get("key_to_pluck")
        self.max_pages_per_batch = int(options.get("max_pages_per_batch", "64"))
        self._last = 0

    def initialOffset(self) -> dict:
        return {"page": 0}

    def latestOffset(self) -> dict:
        total = _total_pages(self.transport_spec, self.config)
        if self._last == 0:
            # first report of this run: the true feed head.  The throttle
            # counter is reader-local, so after a restart reporting
            # anything below the checkpoint's committed page would REWIND
            # the offset and replay pages (the Python API has no
            # admission-control hook that sees the start offset).  The
            # checkpoint bounds the catch-up batch to (committed, head].
            self._last = total
        else:
            # steady state: advance toward the head at most
            # max_pages_per_batch pages per micro-batch.
            self._last = max(
                self._last, min(total, self._last + self.max_pages_per_batch)
            )
        return {"page": self._last}

    def partitions(self, start: dict, end: dict):
        return [_PagePartition(p) for p in range(start["page"] + 1, end["page"] + 1)]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        yield from _read_page(
            self.config, self.transport_spec, self.key_to_pluck, self.schema,
            partition.page,
        )

    def commit(self, end: dict) -> None:
        # nothing to release — pages are immutable in the feed; the
        # engine's checkpoint is the durable record.
        pass


def _coerce(value):
    # nested dict/list values pass through as Rows via Spark's converter;
    # plain dicts need tuple-ization only for struct fields — the Python
    # DataSource accepts dicts/lists natively, so pass as-is.
    return value


class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self):
        raise NotImplementedError(
            "paginated_rest requires an explicit .schema(...) — the engine "
            "never infers schemas from remote payloads (SURVEY §1.3)."
        )

    def reader(self, schema) -> PaginatedRestReader:
        return PaginatedRestReader(schema, self.options)

    def streamReader(self, schema) -> PaginatedRestStreamReader:
        return PaginatedRestStreamReader(schema, self.options)


def register_rest_datasource(spark) -> None:
    spark.dataSource.register(PaginatedRestDataSource)
