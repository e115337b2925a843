"""The query mix ``publish_dual`` runs after its pass: registry queries,
each materialised with ``noop``.

Three registered queries over the fixture tables in
``perfbench/data/sf0.001``: a six-table join with shuffles
(``q5_region_nation_revenue``), a window
(``window_top3_customers_per_nation``) and a pair-grain text join
(``text_tfidf_cosine_pairs``).  The source, the Form 700 pipeline and
the sink take no part.

A pass runs every query once, in the seed's order.  Each query is two
spans: ``queries.<name>.build`` calls the registry function and asks
for the executed plan (analysis, optimisation and physical planning on
the driver, plus any job the function starts itself), and
``queries.<name>.exec`` writes the result to the ``noop`` format, which
runs every column of the plan (a ``count()`` would let column pruning
drop work).  A set-up pass (``warm``) collects each result for the
correctness gate.  ``PASSES`` measured passes follow.  Their number does
not depend on how fast they run: the passes still speed up as the
driver's JIT warms, and a slow host must not also measure fewer,
earlier passes.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from statistics import median

from form700_etl_spark.registry import spark_queries

from . import checks
from .feed import SF_DIR

QUERIES = (
    "q5_region_nation_revenue",
    "window_top3_customers_per_nation",
    "text_tfidf_cosine_pairs",
)
PASSES = 2


class QueryMix:
    def __init__(self, spark, seed: int):
        self.spark = spark
        self.fns = spark_queries()
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.passes: list[float] = []

    def digest(self) -> str:
        """The mix's input: the fixture bytes and the seed's order."""
        h = hashlib.sha256()
        for name in sorted(os.listdir(SF_DIR)):
            with open(os.path.join(SF_DIR, name), "rb") as fh:
                h.update(name.encode() + fh.read())
        h.update(",".join(self.order).encode())
        return h.hexdigest()

    def _query(self, tracer, name: str, collect: bool = False):
        with tracer.span(f"queries.{name}"):
            with tracer.span(f"queries.{name}.build"):
                df = self.fns[name](self.spark, SF_DIR)
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"queries.{name}.exec"):
                if collect:
                    return [r.asDict(recursive=True) for r in df.collect()]
                df.write.format("noop").mode("overwrite").save()

    def warm(self) -> float:
        """One pass that keeps every result for ``check``; returns the
        time its driver-side builds took."""
        from .trace import Tracer

        cold = Tracer(self.spark, traced=False)
        self.results = {name: self._query(cold, name, collect=True) for name in self.order}
        return sum(cold.total(f"queries.{n}.build") for n in self.order)

    def measure(self, tracer) -> None:
        for _ in range(PASSES):
            t = time.perf_counter()
            for name in self.order:
                self._query(tracer, name)
            self.passes.append(time.perf_counter() - t)

    def layers(self, tracer) -> dict:
        """Each query's median build and write, their sums, and the
        stage statistics of the query spans per pass."""
        out: dict[str, float] = {}
        for part in ("build", "exec"):
            per_query = {n: median(tracer.durations(f"queries.{n}.{part}")) for n in self.order}
            out[f"queries.{part}_s"] = sum(per_query.values())
            out.update({f"queries.{n}.{part}_s": v for n, v in per_query.items()})
        for field, value in tracer.stages(*(f"queries.{n}" for n in self.order)).items():
            out[f"spark.queries.{field}"] = value / len(self.passes)
        return out

    def check(self, con) -> list[str]:
        """A query fails unless every row it returned in the set-up pass
        matches its DuckDB oracle (``oracle_sqls()``); a ``noop`` write
        leaves nothing to compare.  Returns one problem per failed query."""
        problems = []
        for name in self.order:
            ok, why = checks.rows_match(self.results[name], checks.oracle_rows(con, name))
            if not ok:
                problems.append(f"{name}: {why}")
        return problems
