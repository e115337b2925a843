"""``filings_tail``: the publish dataflow in micro-batches, open loop.

Two streaming queries read the feed through the ``paginated_rest`` data
source and publish through the ``chunked_dir`` writer:
``run_form700_pipeline(stream, datasets=("cover",))`` and the same for
``scheduleA2``.  The feed is 125 pages of 12 filings in seeded order.
The first ``WARM_PAGES`` are visible before the streams start (set-up);
then the publisher makes one more page visible every ``1 / PAGES_PER_S``
seconds, for ``--seconds``, whether or not the streams keep up.  At
1 page/s the streams ran at capacity and latency wandered with host
speed; at 0.5 page/s each page gets a micro-batch of its own.

``publish_s`` is the streams' busy time for the measured pages: the sum
of ``triggerExecution`` over the micro-batches that read them, in both
streams.  The publisher's fixed schedule is not part of it.

A page is due when the publisher makes it visible.  It is delivered to a
dataset when the ``_BATCH-n`` manifest of the first micro-batch whose
end offset covers it lands; ``recentProgress`` gives each batch's end
offset and the manifest's mtime gives its landing time.

Rows are published with the streaming writer, not with
``ChunkedSink(mode="upsert")``: repeated upserts of one dataset reuse the
chunk ids ``{dataset}-pNNNNN-cNNNNN`` and overwrite earlier batches in
``LocalDirClient``, so that path loses rows (see README.md).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from statistics import median

from form700_etl_spark.plans.form700 import run_form700_pipeline
from form700_etl_spark.schema_registry import load_table_registry
from form700_etl_spark.sinks.chunked_datasource import (
    committed_manifests,
    read_committed,
    register_chunked_datasource,
)
from form700_etl_spark.sources.rest_datasource import register_rest_datasource

from . import checks, expected
from .feed import layout, load_feed, page_path, publish_head, write_feed

PAGE_SIZE = 12
WARM_PAGES = 5
PAGES_PER_S = 0.5
DATASETS = ("cover", "scheduleA2")
DRAIN_TIMEOUT_S = 60.0


def offset_page(offset: dict | None) -> int:
    """Page of a ``paginated_rest`` offset; no offset yet is page 0."""
    return int(offset["page"]) if offset else 0


def batch_end_pages(progress: list[dict]) -> dict[int, int]:
    """batchId -> last page the batch covers, from progress entries."""
    return {int(p["batchId"]): offset_page(p["sources"][0]["endOffset"]) for p in progress}


def page_commit_times(
    end_pages: dict[int, int], manifest_times: dict[int, float], pages
) -> dict[int, float | None]:
    """Delivery time of each page: the landing time of the manifest of
    the first batch whose end offset covers it (None: never delivered)."""
    batches = sorted(end_pages)
    out: dict[int, float | None] = {}
    for page in pages:
        out[page] = None
        for b in batches:
            if end_pages[b] >= page:
                out[page] = manifest_times.get(b)
                break
    return out


def manifest_times(sink_dir: str) -> dict[int, float]:
    out = {}
    for name in os.listdir(sink_dir):
        if name.startswith("_BATCH-"):
            out[int(name.split("-", 1)[1])] = os.stat(os.path.join(sink_dir, name)).st_mtime_ns / 1e9
    return out


class FilingsTail:
    name = "filings_tail"
    unused_layers = ("queries.", "spark.queries.")

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.feed_dir = os.path.join(work, "feed")
        self.registry = load_table_registry()
        self.queries: dict[str, object] = {}

    def sink(self, dataset: str) -> str:
        return os.path.join(self.work, "sink", dataset)

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> dict:
        self.records, self.schema = load_feed()
        self.pages = layout(self.records, self.seed, PAGE_SIZE)
        digest = write_feed(self.feed_dir, self.pages, visible=WARM_PAGES)
        return {"feed_digest": digest}

    def warm(self) -> dict:
        """Start both streams and wait until they have delivered the
        warm-up pages; the first pipeline build is ``cold.plans.build_s``."""
        spark = self.spark
        register_rest_datasource(spark)
        register_chunked_datasource(spark)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        cold = None
        for dataset in DATASETS:
            os.makedirs(self.sink(dataset), exist_ok=True)
            stream = (
                spark.readStream.format("paginated_rest")
                .schema(self.schema)
                .option("transport", "perfbench.feed:fetch_page")
                .option("url", "file://" + self.feed_dir)
                .option("key_to_pluck", "filings")
                .option("page_size", str(PAGE_SIZE))
                .load()
            )
            t = time.perf_counter()
            table = run_form700_pipeline(stream, registry=self.registry, datasets=(dataset,))[dataset]
            cold = cold if cold is not None else time.perf_counter() - t
            self.queries[dataset] = (
                table.writeStream.format("chunked_dir")
                .option("path", self.sink(dataset))
                .option("checkpointLocation", os.path.join(self.work, "checkpoint", dataset))
                .queryName(f"perfbench_tail_{dataset}")
                .start()
            )
        self._wait_for(WARM_PAGES, DRAIN_TIMEOUT_S)
        self.warm_batches = {d: self._last_batch(d) for d in DATASETS}
        return {"cold_plans_build_s": cold}

    def _last_batch(self, dataset: str) -> int:
        return max((int(p["batchId"]) for p in self._progress(dataset)), default=-1)

    def _delivered(self, dataset: str) -> tuple[int, int]:
        """(last page delivered, last batch the progress log knows)."""
        ends = batch_end_pages(self._progress(dataset))
        times = manifest_times(self.sink(dataset))
        page = max((ends[b] for b in ends if b in times), default=0)
        return page, max(ends, default=-1)

    def _wait_for(self, page: int, timeout_s: float) -> None:
        """Wait until both datasets have delivered ``page``.  Polls the
        sink directories and asks the streams for their progress (py4j
        calls that compete with the driver's own work) only while a
        landed manifest is missing from it."""
        deadline = time.time() + timeout_s
        delivered = dict.fromkeys(DATASETS, 0)
        known = dict.fromkeys(DATASETS, -1)
        while min(delivered.values()) < page:
            for d in DATASETS:
                if max(manifest_times(self.sink(d)), default=-1) > known[d]:
                    delivered[d], known[d] = self._delivered(d)
            if time.time() > deadline:
                errors = [str(q.exception()) for q in self.queries.values() if q.exception()]
                raise TimeoutError(f"streams did not deliver page {page} in {timeout_s}s {errors}")
            time.sleep(0.05)

    def _progress(self, dataset: str) -> list[dict]:
        return [json.loads(p.json) for p in self.queries[dataset].recentProgress]

    # -- measured ---------------------------------------------------------
    def measure(self, tracer, seconds: float) -> dict:
        n = min(len(self.pages) - WARM_PAGES, max(1, round(PAGES_PER_S * seconds)))
        self.measured_pages = list(range(WARM_PAGES + 1, WARM_PAGES + n + 1))
        self.jobs_before = self._stream_jobs() if tracer.traced else set()
        self.due: dict[int, float] = {}
        self.late_s = 0.0  # how far the publisher ran behind its schedule
        t0 = time.time() + 0.05
        # open loop: the schedule never waits for the streams, which run
        # on their own threads in the JVM
        for k, page in enumerate(self.measured_pages):
            due = t0 + k / PAGES_PER_S
            time.sleep(max(0.0, due - time.time()))
            publish_head(self.feed_dir, page)
            self.due[page] = due
            self.late_s = max(self.late_s, time.time() - due)
        self.schedule_end = self.due[self.measured_pages[-1]]
        self._wait_for(self.measured_pages[-1], DRAIN_TIMEOUT_S)
        for q in self.queries.values():
            q.stop()
        self.commits = {}
        for d in DATASETS:
            ends = batch_end_pages(self._progress(d))
            self.commits[d] = page_commit_times(ends, manifest_times(self.sink(d)), self.measured_pages)
        landed = [
            (p, self.commits[d][p]) for d in DATASETS for p in self.measured_pages
            if self.commits[d][p] is not None
        ]
        lat = [t - self.due[p] for p, t in landed]
        self.backlog = sum(
            1 for p in self.measured_pages
            if any((self.commits[d][p] or float("inf")) > self.schedule_end for d in DATASETS)
        )
        busy = [p["durationMs"]["triggerExecution"] for d in DATASETS for p in self._measured_progress(d)]
        return {"publish_s": sum(busy) / 1e3, "latency_p50_s": median(lat)}

    def _stream_jobs(self) -> set[int]:
        sc = self.spark.sparkContext
        return {
            j for q in self.queries.values() for j in sc.statusTracker().getJobIdsForGroup(str(q.runId))
        }

    def _measured_progress(self, dataset: str) -> list[dict]:
        """Progress of the micro-batches that read measured pages (idle
        triggers report progress too, with no input rows)."""
        return [
            p for p in self._progress(dataset)
            if int(p["batchId"]) > self.warm_batches[dataset] and p["numInputRows"] > 0
        ]

    def layers(self, tracer) -> dict:
        prog = {d: self._measured_progress(d) for d in DATASETS}
        allp = [p for d in DATASETS for p in prog[d]]
        dur = lambda key, ps=allp: sum(p["durationMs"].get(key, 0) for p in ps) / 1e3  # noqa: E731
        pages_per_batch = [
            offset_page(p["sources"][0]["endOffset"]) - offset_page(p["sources"][0]["startOffset"])
            for p in allp
        ]
        files, rows = [], 0
        for d in DATASETS:
            for m in committed_manifests(self.sink(d)):
                if m["batch_id"] > self.warm_batches[d]:
                    files += [os.path.join(self.sink(d), f) for f in m["files"]]
                    rows += m["rows_inserted"]
        published = [f for p in self.measured_pages for f in self.pages[p - 1]]
        out = {
            "sources.read_s": dur("latestOffset"),
            "plans.build_s": dur("queryPlanning"),
            "sinks.write_s": dur("addBatch"),
            "sinks.audit_s": dur("walCommit") + dur("commitOffsets"),
            "sinks.write_s.cover": dur("addBatch", prog["cover"]),
            "sinks.write_s.scheduleA2": dur("addBatch", prog["scheduleA2"]),
            "sources.pages": len(self.measured_pages),
            "sources.records": len(published),
            "sources.feed_mb": sum(os.path.getsize(page_path(self.feed_dir, p)) for p in self.measured_pages) / 1e6,
            "sinks.rows": rows,
            "sinks.chunks": len(files),
            "sinks.mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
            "streaming.batches": len(allp),
            "streaming.pages_per_batch": median(pages_per_batch),
            "streaming.trigger_ms": median([p["durationMs"]["triggerExecution"] for p in allp]),
            "streaming.backlog_pages": self.backlog,
            "trace.coverage": sum(
                dur(k) for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
            ) / dur("triggerExecution"),
        }
        if tracer.traced:
            jobs = self._stream_jobs() - self.jobs_before
            stages = tracer.reader.stage_totals(jobs)
            for field, value in stages.items():
                out[f"spark.publish.{field}"] = value
        return out

    # -- correctness --------------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        """Each published page is one operation.  It fails when its rows
        in either dataset differ in number from the count computed from
        the page, or differ from the registry's row oracle (a row
        delivered twice is one such difference), or when it was never
        delivered."""
        published = WARM_PAGES + len(self.measured_pages)
        page_of = {
            str(f["filingId"]): page
            for page in range(1, published + 1)
            for f in self.pages[page - 1]
        }
        failed: set[int] = set()
        problems: list[str] = []
        con = checks.oracle_connection()
        for d in DATASETS:
            rows = read_committed(self.sink(d))
            dups = sum(c - 1 for c in Counter(map(checks.row_key, rows)).values())
            if dups:
                problems.append(f"{d}: {dups} rows delivered more than once")
            actual, oracle = defaultdict(list), defaultdict(list)
            for r in rows:
                actual[page_of.get(r["filing_id"])].append(r)
            for r in checks.oracle_rows(con, f"ref_pipeline_{d}"):
                if r["filing_id"] in page_of:
                    oracle[page_of[r["filing_id"]]].append(r)
            if actual.get(None):
                problems.append(f"{d}: {len(actual[None])} rows of filings never published")
            for page in range(1, published + 1):
                want = expected.dataset_counts(self.pages[page - 1], (d,), redacted=False)[d]
                ok, why = checks.rows_match(actual[page], oracle[page])
                if len(actual[page]) != want or not ok:
                    failed.add(page)
                    problems.append(f"{d} page {page}: {len(actual[page])} rows, expected {want}; {why}")
        con.close()
        for d in DATASETS:
            for p in self.measured_pages:
                if self.commits[d][p] is None:
                    failed.add(p)
                    problems.append(f"{d} page {p}: never delivered")
        return published, len(failed), problems

    def detail(self) -> dict:
        return {
            "due": self.due,
            "commits": self.commits,
            "backlog_pages": self.backlog,
            "publisher_late_s": self.late_s,
            "progress": {d: self._measured_progress(d) for d in DATASETS},
        }
