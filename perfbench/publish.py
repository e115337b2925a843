"""``publish_dual``: the nightly job, as ``run_dual`` lays it out.

One pass: ``PaginatedRestSource.read`` over the seeded feed (2 pages of
1,000 filings, the reference's page size) → ``localCheckpoint`` →
``run_form700_pipeline`` private and redacted (``filerName`` masked, as
in ``run_dual``) → one ``ChunkedSink(LocalDirClient)`` write per dataset
(16) → ``write_job_report``.  Spans: ``sources.read``, ``plans.build``,
``sinks.write`` (with one child per dataset) and ``sinks.audit``.

Every page is due when the pass starts, so the delivery latency of a
(page, dataset) pair is the time from the pass start until that
dataset's sink write returns; ``latency_p50_s`` is the median over the
16 datasets.

After the pass, in the same session, the query mix of ``mix.py`` runs
its set-up pass and its measured passes.  It measures the query layer
(per-layer ``queries.*``) and takes no part in ``publish_s``,
``latency_p50_s`` or ``setup_s``.
"""

from __future__ import annotations

import hashlib
import os
import time
from statistics import median

from pyspark.sql import functions as F

from form700_etl_spark.plans.form700 import run_form700_pipeline
from form700_etl_spark.schema_registry import load_table_registry
from form700_etl_spark.sinks.chunked import (
    ChunkedSink,
    ChunkedSinkConfig,
    LocalDirClient,
    job_status_rows,
    write_job_report,
)
from form700_etl_spark.sources.rest import PaginatedRestSource, RestSourceConfig

from . import checks, expected
from .feed import fetch_page, layout, load_feed, page_path, write_feed
from .mix import QueryMix

PAGE_SIZE = 1000
LAYER_SPANS = ("sources.read", "plans.build", "sinks.write", "sinks.audit")


class PublishDual:
    name = "publish_dual"
    unused_layers = ("streaming.",)

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.mix = QueryMix(spark, seed)
        self.feed_dir = os.path.join(work, "feed")
        self.sink_dir = os.path.join(work, "sink")
        self.registry = load_table_registry()
        self.result: dict = {}
        self.reports = []

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> dict:
        self.records, schema = load_feed()
        self.schema_ddl = schema.simpleString()
        self.pages = layout(self.records, self.seed, PAGE_SIZE)
        digest = write_feed(self.feed_dir, self.pages, visible=len(self.pages))
        self.feed_mb = sum(
            os.path.getsize(page_path(self.feed_dir, p)) for p in range(1, len(self.pages) + 1)
        ) / 1e6
        both = hashlib.sha256((digest + self.mix.digest()).encode()).hexdigest()
        return {"feed_digest": both}

    def _source(self) -> PaginatedRestSource:
        config = RestSourceConfig(url="file://" + self.feed_dir, page_size=PAGE_SIZE)
        return PaginatedRestSource(config, fetch_page=fetch_page)

    def _build(self, filings) -> dict:
        tables = dict(run_form700_pipeline(filings, registry=self.registry))
        redacted = filings.withColumn("filerName", F.lit("[REDACTED]"))
        tables.update(
            run_form700_pipeline(redacted, registry=self.registry, suffix="_redacted")
        )
        return tables

    def warm(self) -> dict:
        """Start the Python workers and build the plans twice, so the
        measured pass pays neither process start-up nor JIT compilation.
        The first build runs mostly interpreted; the second is when the
        JIT compiles the planner (about 6 s of compiler time on 4 vCPUs,
        against about 1 s in later builds).  The first build is reported
        as ``cold.plans.build_s``."""
        spark = self.spark
        spark.range(8, numPartitions=4).mapInPandas(lambda it: it, "id long").collect()
        spark.range(8, numPartitions=4).rdd.map(lambda r: r.asDict()).collect()
        filings = self._source().read(spark, self.schema_ddl, key_to_pluck="filings")
        t = time.perf_counter()
        self._build(filings)
        cold = time.perf_counter() - t
        self._build(filings)
        return {"cold_plans_build_s": cold}

    # -- measured ---------------------------------------------------------
    def _pass(self, tracer) -> dict:
        t0 = time.time()
        done: dict[str, float] = {}
        with tracer.span("sources.read"):
            filings = (
                self._source()
                .read(self.spark, self.schema_ddl, key_to_pluck="filings")
                .localCheckpoint(eager=True)
            )
        with tracer.span("plans.build"):
            tables = self._build(filings)
        reports = []
        with tracer.span("sinks.write"):
            for name, df in tables.items():
                with tracer.span(f"sinks.write.{name}"):
                    sink = ChunkedSink(
                        LocalDirClient(os.path.join(self.sink_dir, name)),
                        ChunkedSinkConfig(throttle_s=0.0),
                    )
                    reports.append(sink.write(df, name))
                done[name] = time.time() - t0
        with tracer.span("sinks.audit"):
            self.message = write_job_report(
                reports, os.path.join(self.sink_dir, "_job_report.csv")
            )
        wall = time.time() - t0
        self.reports = reports
        # every (page, dataset) pair of one dataset lands at the same time
        return {
            "publish_s": wall,
            "latency_p50_s": median(list(done.values())),
            "dataset_done_s": done,
        }

    def measure(self, tracer, seconds: float) -> dict:
        """One pass, whatever ``seconds`` says: the nightly job runs once
        per process.  Filling the time with more passes would average a
        faster commit's warm passes against a slower one's first pass.
        The query mix follows: its set-up pass, then its measured passes.
        It runs after the pass so that the pass meets the same JVM as it
        would without the mix."""
        self.result = self._pass(tracer)
        self.mix_cold_build_s = self.mix.warm()
        self.mix.measure(tracer)
        return {key: self.result[key] for key in ("publish_s", "latency_p50_s")}

    def layers(self, tracer) -> dict:
        chunks = [
            os.path.join(self.sink_dir, r.dataset, f)
            for r in self.reports
            for f in os.listdir(os.path.join(self.sink_dir, r.dataset))
            if f.endswith(".json") and not f.startswith("_")
        ]
        wall = self.result["publish_s"]
        out = {
            "sources.read_s": tracer.total("sources.read"),
            "plans.build_s": tracer.total("plans.build"),
            "sinks.write_s": tracer.total("sinks.write"),
            "sinks.audit_s": tracer.total("sinks.audit"),
            "sinks.write_s.cover": tracer.total("sinks.write.cover"),
            "sinks.write_s.scheduleA2": tracer.total("sinks.write.scheduleA2"),
            "sources.pages": len(self.pages),
            "sources.records": len(self.records),
            "sources.feed_mb": self.feed_mb,
            "sinks.rows": sum(r.rows_inserted for r in self.reports),
            "sinks.chunks": len(chunks),
            "sinks.mb_written": sum(os.path.getsize(f) for f in chunks) / 1e6,
            "trace.coverage": sum(map(tracer.total, LAYER_SPANS)) / wall,
        }
        for field, value in tracer.stages(*LAYER_SPANS).items():
            out[f"spark.publish.{field}"] = value
        out.update(self.mix.layers(tracer))
        return out

    # -- correctness --------------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        """Each of the 16 datasets published is one operation; it fails
        on a count off the dual-audit oracle or the page-derived count, a
        non-SUCCESS audit, or (cover and scheduleA2) any cell off the
        row oracles.  Each query of the mix is one more operation."""
        con = checks.oracle_connection()
        oracle = checks.dual_audit_counts(con)
        calc = expected.dataset_counts(self.records)
        _, status = job_status_rows(self.reports)
        status = {r["dataset"]: r for r in status}
        problems: list[str] = []
        failed = set()
        for r in self.reports:
            want = oracle.get(r.dataset)
            if not (r.total_records == r.rows_inserted == want == calc.get(r.dataset)):
                failed.add(r.dataset)
                problems.append(
                    f"{r.dataset}: sink {r.rows_inserted}/{r.total_records}, "
                    f"oracle {want}, pages {calc.get(r.dataset)}"
                )
            if status[r.dataset]["status"] != "SUCCESS":
                failed.add(r.dataset)
                problems.append(f"{r.dataset}: audit {status[r.dataset]['status']}")
        for dataset, oracle_name in (
            ("cover", "ref_pipeline_cover"),
            ("scheduleA2", "ref_pipeline_scheduleA2"),
        ):
            ok, why = checks.rows_match(
                checks.read_chunk_dir(os.path.join(self.sink_dir, dataset)),
                checks.oracle_rows(con, oracle_name),
            )
            if not ok:
                failed.add(dataset)
                problems.append(f"{dataset}: {why}")
        mix_problems = self.mix.check(con)
        con.close()
        missing = set(oracle) - {r.dataset for r in self.reports}
        for name in missing:
            problems.append(f"{name}: not published")
        attempted = len(oracle) + len(self.mix.order)
        return attempted, len(failed | missing) + len(mix_problems), problems + mix_problems

    def detail(self) -> dict:
        return {
            "pass": self.result,
            "job_report": self.message,
            "mix": {
                "order": self.mix.order,
                "passes_s": self.mix.passes,
                "cold_build_s": self.mix_cold_build_s,
            },
        }

