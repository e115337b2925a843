"""Chunked sink as a Spark Python DataSource WRITER (V2 API).

Complements ``sources/rest_datasource.py`` on the write side:

    spark.dataSource.register(ChunkedDirDataSource)
    (df.write.format("chunked_dir")
       .option("path", "/sink/dir").option("chunk_size", "500")
       .mode("append").save())

The V2 commit protocol gives the idempotence story for free at the API
level: each task writes chunks named by (partition, chunk index) and
returns a WriterCommitMessage listing them; ``commit`` runs ONCE on
the driver after every task succeeded and publishes a ``_MANIFEST``
naming the committed chunks plus the audited row count (the reference's
A2/A3 reconciliation, Form700.py:611-618).  ``abort`` removes partial
output.  A re-executed task overwrites its own deterministic chunk ids,
so retries never double-count — the design fix for the reference's
retry-after-partial-success bug (SURVEY §7).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class ChunkCommit(WriterCommitMessage):
    files: tuple
    rows: int


class _ChunkWriter:
    """The task-side loop both writers share: rows go out in
    ``chunk_size`` JSON files, each published by an atomic rename, and
    the commit message lists them.  Subclasses name the files."""

    def __init__(self, options):
        self.path = options["path"]
        self.chunk_size = int(options.get("chunk_size", "1000"))
        os.makedirs(self.path, exist_ok=True)

    def _chunk_prefix(self, pid: int) -> str:
        raise NotImplementedError

    def write(self, iterator) -> ChunkCommit:
        from pyspark import TaskContext

        prefix = self._chunk_prefix(TaskContext.get().partitionId())
        files: list[str] = []
        rows = 0
        chunk: list[dict] = []

        def flush():
            nonlocal rows
            if not chunk:
                return
            name = f"{prefix}-c{len(files):05d}.json"
            tmp = os.path.join(self.path, f".{name}.tmp")
            with open(tmp, "w") as fh:
                json.dump(chunk, fh, default=str)
            os.replace(tmp, os.path.join(self.path, name))  # atomic
            files.append(name)
            rows += len(chunk)
            chunk.clear()

        for row in iterator:
            chunk.append(row.asDict(recursive=True))
            if len(chunk) >= self.chunk_size:
                flush()
        flush()
        return ChunkCommit(files=tuple(files), rows=rows)

    def _remove_chunks(self, messages) -> None:
        """Abort: delete the chunk files of the tasks that reported."""
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.unlink(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass


class ChunkedDirWriter(_ChunkWriter, DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        super().__init__(options)
        self.overwrite = overwrite

    def _chunk_prefix(self, pid: int) -> str:
        # deterministic: a re-executed task overwrites its own chunks
        return f"part-{pid:05d}"

    def commit(self, messages) -> None:
        manifest = {
            "files": sorted(f for m in messages for f in m.files),
            "rows_inserted": sum(m.rows for m in messages),
        }
        tmp = os.path.join(self.path, "._MANIFEST.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, "_MANIFEST"))

    def abort(self, messages) -> None:
        self._remove_chunks(messages)


class ChunkedDirStreamWriter(_ChunkWriter, DataSourceStreamWriter):
    """Streaming twin of the chunked sink: micro-batch exactly-once via
    per-batch manifests.

    The task-side ``write`` cannot know the batch id (the V2 stream
    contract delivers it only to ``commit``), so chunk files get
    collision-free names and the ``_BATCH-{id}`` manifest — published
    by ONE atomic rename on the driver after every task of the batch
    succeeded — is what makes them visible.  The committed state of the
    sink is *the union of manifests*: a replayed micro-batch re-writes
    fresh chunk files and re-publishes the same manifest name, so
    readers that resolve through manifests (``read_committed``) never
    observe duplicates or partial batches.  ``abort`` deletes the
    orphaned chunk files of a failed attempt.

    This is the streaming answer to the reference's
    retry-after-partial-success double-count (Form700.py:479-502):
    at-least-once file writes + atomic manifest publish = exactly-once
    observable output, the same recipe as Spark's own file sink log.
    """

    def _chunk_prefix(self, pid: int) -> str:
        import uuid

        # unique per task attempt AND batch
        return f"stream-p{pid:05d}-{uuid.uuid4().hex[:8]}"

    def commit(self, messages, batchId: int) -> None:
        manifest = {
            "batch_id": batchId,
            "files": sorted(f for m in messages if m is not None for f in m.files),
            "rows_inserted": sum(m.rows for m in messages if m is not None),
        }
        tmp = os.path.join(self.path, f"._BATCH-{batchId}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, f"_BATCH-{batchId}"))

    def abort(self, messages, batchId: int) -> None:
        self._remove_chunks(messages)


def committed_manifests(path: str) -> list[dict]:
    """The sink's committed state: every published ``_BATCH-*`` manifest,
    in batch order."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_BATCH-"):
            with open(os.path.join(path, name)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda m: m["batch_id"])


def read_committed(path: str) -> list[dict]:
    """Resolve rows through the manifests — the exactly-once view.
    Orphan chunk files from failed attempts are invisible here."""
    rows: list[dict] = []
    for m in committed_manifests(path):
        for f in m["files"]:
            with open(os.path.join(path, f)) as fh:
                rows.extend(json.load(fh))
    return rows


class ChunkedDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chunked_dir"

    def writer(self, schema, overwrite: bool) -> ChunkedDirWriter:
        return ChunkedDirWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> ChunkedDirStreamWriter:
        return ChunkedDirStreamWriter(self.options)


def register_chunked_datasource(spark) -> None:
    spark.dataSource.register(ChunkedDirDataSource)
