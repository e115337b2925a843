"""``compile_dataset``: the one-pass clean compile behind
``run_form700_pipeline`` — its error paths, and the same plans over a
streaming source as over a batch one."""

from __future__ import annotations

import dataclasses
import uuid

import pytest

from form700_etl_spark.plans.form700 import (
    compile_dataset,
    run_form700_pipeline,
    synthesize_filings,
)
from form700_etl_spark.schema_registry import load_schema, load_table_registry


@pytest.mark.parametrize(
    "case, error, words",
    [
        ("registry_list_column", KeyError, ["scheduleD", "noSuchList"]),
        ("schema_field", KeyError, ["scheduleD", "noSuchField"]),
        ("declared_type", ValueError, ["geometry"]),
    ],
)
def test_compile_error_paths(spark, sf_dir, case, error, words):
    source = synthesize_filings(spark, sf_dir, datasets=("scheduleD",)).schema
    info = load_table_registry()["scheduleD"]
    schema = load_schema("scheduleD")
    if case == "registry_list_column":
        info = dataclasses.replace(info, list_columns=info.list_columns + ("noSuchList",))
    elif case == "schema_field":
        schema = dataclasses.replace(
            schema,
            fields=schema.fields + ("noSuchField",),
            type_map={**schema.type_map, "noSuchField": "text"},
        )
    else:
        schema = dataclasses.replace(
            schema, type_map={**schema.type_map, "amount": "geometry"}
        )
    with pytest.raises(error) as exc:
        compile_dataset(source, info, schema)
    assert all(w in str(exc.value) for w in words), str(exc.value)


def test_pipeline_over_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming caller (a file stream of nested filings) gets the
    same plans as the batch caller: every dataset's schema is equal,
    and cover and scheduleA2 deliver the same rows through a memory
    sink."""
    path = str(tmp_path / "filings")
    synthesize_filings(spark, sf_dir).write.parquet(path)
    batch_src = spark.read.parquet(path)
    stream_src = spark.readStream.schema(batch_src.schema).parquet(path)
    batch = run_form700_pipeline(batch_src)
    stream = run_form700_pipeline(stream_src)
    assert set(stream) == set(batch)
    for name in batch:
        assert stream[name].isStreaming
        assert stream[name].schema == batch[name].schema, name
    for name in ("cover", "scheduleA2"):
        sink = f"compile_stream_{name}_{uuid.uuid4().hex[:8]}"
        query = (
            stream[name].writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
        got = sorted(repr(tuple(r)) for r in spark.table(sink).collect())
        want = sorted(repr(tuple(r)) for r in batch[name].collect())
        assert len(got) == len(want) > 0, name
        assert got == want, name
