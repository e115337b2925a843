"""The filings feed both workloads publish from.

The feed is the nested filings table of ``synthesize_filings`` over the
fixture tables in ``perfbench/data/sf0.001`` (1,500 filings), serialised
once per checkout to ``.perfbench_cache/`` as one JSON record per line.
Each run lays the records out on pages from its ``--seed`` and writes
them as ``page-NNNNN.json`` files shaped like the Form 700 API
(``totalMatchingPages`` + ``filings``).  ``fetch_page`` serves them to
``PaginatedRestSource`` and to the ``paginated_rest`` data source; it is
importable on executors as ``perfbench.feed:fetch_page``.

A ``_HEAD`` file holds the number of visible pages.  The tail workload
advances it while a stream reads the feed, always by an atomic rename,
so a reader never sees a half-written head.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.001")
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
HEAD = "_HEAD"


def page_path(feed_dir: str, page: int) -> str:
    return os.path.join(feed_dir, f"page-{page:05d}.json")


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def fetch_page(config, page: int) -> dict:
    """File-backed transport: ``config.url`` is ``file://<feed dir>``.
    ``totalMatchingPages`` comes from ``_HEAD``, so a probe of page 1
    sees the feed as far as it has been published."""
    feed_dir = config.url.split("://", 1)[1]
    with open(page_path(feed_dir, page)) as fh:
        body = json.load(fh)
    with open(os.path.join(feed_dir, HEAD)) as fh:
        body["totalMatchingPages"] = int(fh.read())
    return body


def publish_head(feed_dir: str, pages: int) -> None:
    _atomic_write(os.path.join(feed_dir, HEAD), str(pages).encode())


def source_key() -> str:
    """Cache key of the serialised feed: the fixture bytes plus the code
    that turns them into filings.  A checkout whose synthesiser differs
    builds its own feed; ``feed_digest`` then tells the runs apart."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(SF_DIR)):
        with open(os.path.join(SF_DIR, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    with open(os.path.join(ROOT, "form700_etl_spark", "plans", "form700.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _cache_paths() -> tuple[str, str]:
    key = source_key()
    return (
        os.path.join(CACHE_DIR, f"filings-{key}.jsonl"),
        os.path.join(CACHE_DIR, f"filings-{key}.schema.json"),
    )


def cached_paths() -> tuple[str, str] | None:
    paths = _cache_paths()
    return paths if all(os.path.exists(p) for p in paths) else None


def build_cache(spark) -> tuple[str, str]:
    """Serialise the filings to the cache (once per checkout); returns
    the paths of the records file and of the schema file."""
    from form700_etl_spark.plans.form700 import synthesize_filings

    if cached_paths() is not None:
        return _cache_paths()
    records, schema = _cache_paths()
    os.makedirs(CACHE_DIR, exist_ok=True)
    previous = spark.conf.get("spark.sql.jsonGenerator.ignoreNullFields", None)
    # every field present in every record, so the Python data source
    # never meets a struct with missing keys
    spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    try:
        filings = synthesize_filings(spark, SF_DIR)
        lines = sorted(
            filings.toJSON().collect(), key=lambda s: json.loads(s)["filingId"]
        )
    finally:
        if previous is None:
            spark.conf.unset("spark.sql.jsonGenerator.ignoreNullFields")
        else:
            spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", previous)
    canonical = [json.dumps(json.loads(s), sort_keys=True) for s in lines]
    _atomic_write(schema, filings.schema.json().encode())
    _atomic_write(records, ("\n".join(canonical) + "\n").encode())
    return records, schema


def load_records(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def load_feed():
    """The cached filings (``build_cache`` must have run) and their
    schema as a ``StructType``."""
    from pyspark.sql.types import StructType

    records, schema = _cache_paths()
    with open(schema) as fh:
        return load_records(records), StructType.fromJson(json.load(fh))


def layout(records: list[dict], seed: int, page_size: int) -> list[list[dict]]:
    """Seeded page layout: which filing lands on which page, and so the
    page order.  Every record is published exactly once."""
    order = list(range(len(records)))
    random.Random(seed).shuffle(order)
    return [
        [records[i] for i in order[k : k + page_size]]
        for k in range(0, len(order), page_size)
    ]


def page_bytes(pages: list[list[dict]], page: int) -> bytes:
    body = {"totalMatchingPages": len(pages), "filings": pages[page - 1]}
    return json.dumps(body, sort_keys=True, separators=(",", ":")).encode()


def write_feed(feed_dir: str, pages: list[list[dict]], visible: int) -> str:
    """Write every page file, make ``visible`` of them readable through
    ``_HEAD``, and return the sha256 digest of the page bytes in page
    order — the identity of the feed a run served."""
    os.makedirs(feed_dir, exist_ok=True)
    h = hashlib.sha256()
    for page in range(1, len(pages) + 1):
        data = page_bytes(pages, page)
        h.update(data)
        _atomic_write(page_path(feed_dir, page), data)
    publish_head(feed_dir, visible)
    return h.hexdigest()

