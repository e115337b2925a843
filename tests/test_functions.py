"""Unit + property tests for the expression library (SURVEY §5.2:
explode row-count law, cast semantics, snake_case, stringify edges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from form700_etl_spark.functions.cleaning import (
    cast_column,
    number_cast,
    snake_case,
    text_cast,
)
from form700_etl_spark.functions.nested import explode_outer_flat, prefix_rename, stringify_structs


def test_snake_case_matches_inflection_semantics():
    # cases from the reference's rename path (Form700.py:464-468)
    assert snake_case("filingId") == "filing_id"
    assert snake_case("loan.address") == "loanaddress"
    assert snake_case("realPropertyFairMarketValue") == "real_property_fair_market_value"
    assert snake_case("HTMLParser") == "html_parser"
    assert snake_case("already_snake") == "already_snake"


def test_prefix_rename():
    assert prefix_rename("fairMarketValue", "realProperty") == "realPropertyFairMarketValue"
    assert prefix_rename("x", "") == "x"


def test_number_cast_reference_semantics(spark):
    rows = [("12",), ("12k",), ("1.5",), ("a%b",), (None,), ("",), ("Brand#3",)]
    df = spark.createDataFrame(rows, "raw string").select(number_cast("raw").alias("v"))
    got = [r.v for r in df.collect()]
    #                12     12k->120   1.5   a%b->000  NULL  ''   '00000#3'
    assert got == [12.0, 120.0, 1.5, 0.0, 0.0, 0.0, 0.0]


def test_number_cast_idempotent_on_clean_numbers(spark):
    df = spark.createDataFrame([("42",), ("0.5",)], "raw string")
    once = df.select(number_cast("raw").alias("v"))
    twice = once.select(number_cast(F.col("v").cast("string")).alias("v"))
    assert [r.v for r in once.collect()] == [r.v for r in twice.collect()]


def test_text_cast_fills_null(spark):
    df = spark.createDataFrame([(None,), ("x",)], "raw string")
    assert [r.v for r in df.select(text_cast("raw").alias("v")).collect()] == ["", "x"]


def test_cast_column_unknown_type_raises(spark):
    df = spark.createDataFrame([("1",)], "a string")
    try:
        df.select(cast_column("a", "geometry"))
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "geometry" in str(e)


def test_explode_outer_row_count_law(spark):
    # law: rows_out == sum(greatest(size(arr), 1))
    rows = [(1, ["a", "b"]), (2, []), (3, None), (4, ["x"])]
    df = spark.createDataFrame(rows, "id int, arr array<string>")
    exploded = df.withColumn("tok", F.explode_outer("arr"))
    expected = df.select(
        F.sum(F.greatest(F.size(F.coalesce("arr", F.array())), F.lit(1)))
    ).collect()[0][0]
    assert exploded.count() == expected == 5  # 2 + 1 + 1 + 1


def test_explode_outer_flat_prefix_and_null_children(spark):
    rows = [(1, [{"a": "x", "b": "y"}]), (2, [])]
    df = spark.createDataFrame(rows, "id int, items array<struct<a:string,b:string>>")
    flat = explode_outer_flat(df, "items", prefix="item")
    assert set(flat.columns) == {"id", "itemA", "itemB"}
    by_id = {r.id: r for r in flat.collect()}
    assert by_id[1].itemA == "x"
    assert by_id[2].itemA is None  # empty array keeps parent with NULL child


def test_stringify_structs_reference_format(spark):
    rows = [
        (1, [{"k": "v", "m": "w"}, {"k": "q", "m": None}]),
        (2, [{"k": "", "m": "only"}]),  # empty string -> dropped pair (ref :314-315)
        (3, []),
    ]
    df = spark.createDataFrame(rows, "id int, arr array<struct<k:string,m:string>>")
    out = {
        r.id: r.s
        for r in df.select("id", stringify_structs("arr", ["k", "m"]).alias("s")).collect()
    }
    assert out[1] == "k:v,m:w|k:q"
    assert out[2] == "m:only"
    assert out[3] == ""


def test_schema_registry_contract():
    from form700_etl_spark.schema_registry import available_datasets, load_schema

    assert set(available_datasets()) >= {
        "cover",
        "scheduleA1",
        "scheduleA2",
        "scheduleB",
        "scheduleC",
        "scheduleD",
        "scheduleE",
        "comments",
    }
    s = load_schema("scheduleA1")
    # reference field order: the filer block leads (form700_scheduleA1_schema.csv)
    assert s.fields[0] == "filerName" and s.type_map["fairMarketValue"] == "number"
    assert "filingId" in s.fields and s.type_map["filingId"] == "text"
    # scheduleB declares the reference's dotted loan.* fields
    b = load_schema("scheduleB")
    assert "loan.address" in b.fields and b.type_map["loan.highestBalance"] == "number"
    st = s.struct_type(date_compat=True)
    assert [f.name for f in st.fields] == list(s.fields)
    # date fields widen to string in compat mode (reference-disabled cast)
    cover = load_schema("cover")
    assert cover.struct_type(date_compat=True)["filingDate"].dataType.typeName() == "string"
    assert cover.struct_type(date_compat=False)["filingDate"].dataType.typeName() == "date"
    try:
        load_schema("nope")
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_join_key_preservation(spark, sf_dir):
    # enrichment join must not change child row count (left join on unique key)
    from form700_etl_spark.io import table

    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    joined = l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey, "left")
    assert joined.count() == l.count()


def test_approx_count_distinct_within_bounds(spark, sf_dir):
    from form700_etl_spark.queries.sqlapi import approx_distinct_and_quantiles

    for row in approx_distinct_and_quantiles(spark, sf_dir).collect():
        rel_err = abs(row.approx_customers - row.exact_customers) / max(row.exact_customers, 1)
        assert rel_err < 0.1, row
        assert row.approx_median_price > 0


def test_matmul_topk_agrees_with_exact_plan(spark, sf_dir):
    from form700_etl_spark.queries.similarity import (
        ann_cosine_topk_bruteforce,
        ann_cosine_topk_matmul,
    )

    exact = {
        (r.query_id, r.rk): r.neighbor_id
        for r in ann_cosine_topk_bruteforce(spark, sf_dir).collect()
    }
    fast = {
        (r.query_id, r.rk): r.neighbor_id
        for r in ann_cosine_topk_matmul(spark, sf_dir).collect()
    }
    assert exact == fast  # same neighbors, same order (rounded-tie-broken)


def test_ivf_recall_against_exact(spark, sf_dir):
    from form700_etl_spark.queries.similarity import (
        ann_cosine_topk_bruteforce,
        ann_ivf_topk,
    )

    ivf = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(spark, sf_dir).collect()}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_cosine_topk_bruteforce(spark, sf_dir).collect()
    }
    recall = len(ivf & exact) / len(exact)
    # deterministic pipeline -> fixed recall; 3-probe of 10 clusters scans
    # ~30% of the corpus and must recover well over half the true top-5
    assert recall >= 0.5, f"recall@5={recall:.3f}"


def test_lsh_multiprobe_recall_against_exact(spark, sf_dir):
    """Hamming-radius-3 multi-probe over 8 sign bits scans ~36% of the
    buckets and must recover over half the true top-3 — the shipped
    replacement for the single-probe variant whose fixture recall was
    exactly 0 (a user trap; see ANN_EVAL.json)."""
    from form700_etl_spark.queries.similarity import (
        ann_cosine_topk_bruteforce,
        ann_lsh_signbit_topk,
    )

    lsh = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_signbit_topk(spark, sf_dir).collect()
    }
    exact3 = {
        (r.query_id, r.neighbor_id)
        for r in ann_cosine_topk_bruteforce(spark, sf_dir).collect()
        if r.rk <= 3
    }
    recall = len(lsh & exact3) / len(exact3)
    assert recall >= 0.5, f"recall@3={recall:.3f}"


def test_multimodal_frame_digests_deterministic(spark, sf_dir):
    from form700_etl_spark.operators.multimodal import sample_frames, synthesize_media

    media = synthesize_media(spark, sf_dir)
    f1 = {(r.doc_id, r.frame_index): r.frame_sha for r in sample_frames(media).collect()}
    f2 = {(r.doc_id, r.frame_index): r.frame_sha for r in sample_frames(media).collect()}
    assert f1 == f2 and len(f1) > 0


def test_redact_text_masks_pii_shapes(spark):
    from form700_etl_spark.functions.redact import (
        redact_columns,
        redact_text,
        redaction_counts,
    )

    rows = [
        ("reach me at jane.doe+x@example.co.uk or 415-555-1234", 2),
        ("ssn 123-45-6789 ip 10.0.42.7 card 4111111111111111", 3),
        ("nothing sensitive here", 0),
        ("edge: a@b.io.", 1),
    ]
    df = spark.createDataFrame(rows, ["text", "expected"])
    out = df.select(
        redact_text("text").alias("clean"),
        redaction_counts("text").alias("n"),
        "expected",
        "text",
    ).collect()
    for r in out:
        assert r.n == r.expected, (r.text, r.clean, r.n)
    by_text = {r.text: r.clean for r in out}
    assert "[EMAIL]" in by_text[rows[0][0]] and "[PHONE]" in by_text[rows[0][0]]
    assert "[SSN]" in by_text[rows[1][0]] and "[IPV4]" in by_text[rows[1][0]]
    assert "[NUMBER_RUN]" in by_text[rows[1][0]]
    assert by_text[rows[2][0]] == rows[2][0]  # untouched
    # multi-column scrub keeps schema
    two = spark.createDataFrame([("a@b.io", "c@d.io")], ["x", "y"])
    scrubbed = redact_columns(two, ["x", "y"]).first()
    assert scrubbed.x == "[EMAIL]" and scrubbed.y == "[EMAIL]"


def test_hll_sketch_mergeability_law(spark, sf_dir):
    """estimate(union(per-shard sketches)) must equal estimate(whole) —
    the property that makes sketch rollups valid without a rescan."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.operators.sketches import (
        distinct_sketches,
        rollup_sketches,
    )

    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    # shard-local sketches per (type, day), rolled up to per-type
    daily = distinct_sketches(e, ["event_type", "day"], "user_id")
    rolled = {
        r.event_type: r.estimate
        for r in rollup_sketches(daily, ["event_type"]).collect()
    }
    # whole-pass sketches per type (no sharding)
    whole = {
        r.event_type: r.estimate
        for r in rollup_sketches(
            distinct_sketches(e, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert rolled == whole and len(rolled) > 0
    # estimates are close to truth (lg_k=12 -> ~2.5% relative error)
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, est in rolled.items():
        assert abs(est - exact[t]) <= max(3, 0.05 * exact[t]), (t, est, exact[t])


def test_connected_components_paths_agree(spark, sf_dir):
    """Driver union-find and distributed label propagation must produce
    the identical (doc_id, component_id) labeling."""
    from form700_etl_spark.operators.dedup import connected_components
    from form700_etl_spark.queries.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2").localCheckpoint()
    fast = {
        (r.doc_id, r.component_id) for r in connected_components(pairs).collect()
    }
    distributed = {
        (r.doc_id, r.component_id)
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == distributed and len(fast) > 0


def test_connected_components_big_path_ships_no_pair_rows(spark, sf_dir, monkeypatch):
    """With the graph above driver_threshold, the path probe must be a
    count (a single long to the driver) — never a collect/toPandas of
    pair rows (the pre-r12 shape collected threshold+1 Row objects just
    to discard them)."""
    from form700_etl_spark.operators.dedup import connected_components
    from form700_etl_spark.queries.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2").localCheckpoint()
    # patch the CONCRETE class (pyspark.sql.DataFrame is an abstract base
    # in Spark 4; classic instances override its methods)
    DataFrame = type(pairs)

    def _boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("big-graph path must not transfer pair rows")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    out = connected_components(pairs, driver_threshold=0)
    monkeypatch.undo()
    assert out.count() > 0


def test_connected_components_small_path_is_two_actions(spark, sf_dir, monkeypatch):
    """Small-graph path: one probe count + one Arrow toPandas, with the
    probed frame persisted so the second action re-reads cached
    partitions and the pair lineage never runs twice.  (Job-id counting
    is the wrong granularity here — AQE legitimately splits a single
    count() action into shuffle-stage sub-jobs.)"""
    from form700_etl_spark.operators.dedup import connected_components
    from form700_etl_spark.queries.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2").localCheckpoint()
    DataFrame = type(pairs)  # concrete classic DataFrame class
    calls = {"count": 0, "toPandas": 0, "collect": 0, "cached_at_toPandas": None}
    orig_count, orig_topandas = DataFrame.count, DataFrame.toPandas

    def counting_count(self):
        calls["count"] += 1
        return orig_count(self)

    def counting_topandas(self):
        calls["toPandas"] += 1
        # DISK_ONLY probe cache (big path holds a block-store copy too,
        # so the probe copy deliberately stays off-heap-of-memory)
        lvl = self.storageLevel
        calls["cached_at_toPandas"] = bool(lvl.useDisk or lvl.useMemory)
        return orig_topandas(self)

    def counting_collect(self, *a, **k):
        calls["collect"] += 1
        return []

    monkeypatch.setattr(DataFrame, "count", counting_count)
    monkeypatch.setattr(DataFrame, "toPandas", counting_topandas)
    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    connected_components(pairs)
    monkeypatch.undo()
    assert calls == {
        "count": 1,
        "toPandas": 1,
        "collect": 0,
        "cached_at_toPandas": True,
    }, calls


def test_udtf_chunker_matches_builtin_plan(spark, sf_dir):
    """The Python UDTF twin must emit exactly the rows of the builtin
    sequence/slice/explode chunker."""
    from form700_etl_spark.operators.multimodal import chunk_docs_udtf
    from form700_etl_spark.queries.pipeline_ops import doc_chunk_windows

    spark.udtf.register("chunk_docs", chunk_docs_udtf())
    from form700_etl_spark.io import register_views

    register_views(spark, sf_dir)
    via_udtf = {
        tuple(r)
        for r in spark.sql(
            "SELECT c.* FROM documents, LATERAL chunk_docs(doc_id, text) c "
            "WHERE documents.doc_id % 10 = 0"
        ).collect()
    }
    builtin = {tuple(r) for r in doc_chunk_windows(spark, sf_dir).collect()}
    assert via_udtf == builtin and len(builtin) > 0


def test_countmin_mergeability_and_bounds(spark, sf_dir):
    """Count-min laws: (1) merging per-shard grids == building one grid
    over the whole input; (2) every estimate >= the true count (the
    sketch never under-counts)."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.operators.countmin import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    e = table(spark, sf_dir, "events")
    whole = countmin_build(e, "user_id")
    # shard by event_type, sketch each shard, merge the grids
    shard_sketches = (
        countmin_build(e.filter(F.col("event_type") == t), "user_id")
        for t in [r.event_type for r in e.select("event_type").distinct().collect()]
    )
    from functools import reduce

    merged = countmin_merge(reduce(lambda a, b: a.unionByName(b), shard_sketches))
    lhs = {(r.d, r.bucket): r.c for r in whole.collect()}
    rhs = {(r.d, r.bucket): r.c for r in merged.collect()}
    assert lhs == rhs and len(lhs) > 0
    # no under-estimates
    users = e.select("user_id").distinct()
    est = countmin_estimate(whole, users, "user_id").withColumnRenamed("key", "user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bad = est.join(exact, "user_id").filter(F.col("cm_estimate") < F.col("n")).count()
    assert bad == 0


def test_titleize_and_schema_bootstrap(tmp_path):
    """C10 titleize (inflection algorithm, Form700.py:201) and the K7
    write-if-absent schema bootstrap (Form700.py:211-221)."""
    import csv

    from form700_etl_spark.functions.cleaning import titleize
    from form700_etl_spark.schema_registry import bootstrap_schema_csv

    assert titleize("departmentName") == "Department Name"
    assert titleize("realPropertyFairMarketValue") == "Real Property Fair Market Value"
    assert titleize("offices") == "Offices"
    # faithful inflection quirk: humanize strips a trailing _id
    assert titleize("filingId") == "Filing"

    path = str(tmp_path / "form700_demo_schema.csv")
    assert bootstrap_schema_csv(["filingId", "departmentName"], path) is True
    # second call must NOT overwrite (curated schemas are fixed forever)
    assert bootstrap_schema_csv(["other"], path) is False
    rows = list(csv.DictReader(open(path)))
    assert [r["fieldName"] for r in rows] == ["filingId", "departmentName"]
    assert rows[1]["name"] == "Department Name"
    assert all(r["dataTypeName"] == "" for r in rows)  # human fills types


def test_shingle_df_cap_drops_hot_shingles_only(spark):
    """The hot-shingle document-frequency cap (operators.dedup.shingle
    max_shingle_df) must drop exactly the shingles shared by more than
    the cap's doc count, and leave rarer shingles' rows intact — the
    skew guard wired into dedup_ngram_jaccard / dedup_clusters_connected."""
    from form700_etl_spark.operators.dedup import shingle

    # 5 docs share the same 3-gram ("a b c"); 1 doc is unique
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(5)] + [(99, "x y z")],
        "doc_id long, text string",
    )
    uncapped = shingle(docs, n=3)
    assert uncapped.count() == 6
    capped = shingle(docs, n=3, max_shingle_df=4)
    rows = {(r.doc_id, r.shingle) for r in capped.collect()}
    assert rows == {(99, "x y z")}  # hot shingle gone, rare one intact
    # cap at exactly the df keeps it (cap is "more than", not "at least")
    assert shingle(docs, n=3, max_shingle_df=5).count() == 6


def test_pq_recall_against_exact(spark, sf_dir):
    """PQ ANN must recover most exact top-5 neighbors after the ADC
    shortlist + exact rerank (recall tested the same way as IVF), and
    its returned cosines must be EXACT (the rerank recomputes them on
    the true vectors, so any reported pair's score equals the exact
    plan's score for that pair)."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.operators.similarity import pq_topk, topk_neighbors, vec_double

    v = table(spark, sf_dir, "embeddings").select("vec_id", vec_double().alias("vec"))
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cand = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"))
    exact = topk_neighbors(q, cand, k=5).collect()
    approx = pq_topk(q, cand, k=5, n_codes=32, rerank=16).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    approx_scores = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        approx_scores[(r.query_id, r.neighbor_id)] = r.cosine
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    hits = sum(len(exact_sets[k] & approx_sets.get(k, set())) for k in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.6, f"PQ recall too low: {hits}/{total}"
    for key, score in approx_scores.items():
        if key in exact_scores:
            assert score == exact_scores[key]  # rerank scores are exact


def test_fuzzy_join_hot_block_cap_excludes_only_hot_blocks(spark):
    """fuzzy_join's max_block_df guard: reference rows in a
    (prefix, length) block larger than the cap stop matching; rows in
    small blocks are unaffected; matches across the length band still
    work (band folded into the equi key via probe-length replication)."""
    from form700_etl_spark.operators.fuzzy import fuzzy_join

    # hot block: 4 same-prefix same-length names; cold block: 1 name
    right = spark.createDataFrame(
        [(i, f"abcde{i}") for i in range(4)] + [(9, "zyxwv")],
        "match_id long, name string",
    )
    left = spark.createDataFrame(
        [(1, "abcde0"), (2, "zyxw")],  # second probes across the band (len 4 vs 5)
        "query_id long, qname string",
    )
    uncapped = fuzzy_join(left, right, "qname", "name", max_dist=2, prefix_len=3)
    got = {(r.query_id, r.match_id) for r in uncapped.collect()}
    assert (1, 0) in got and (2, 9) in got
    capped = fuzzy_join(
        left, right, "qname", "name", max_dist=2, prefix_len=3, max_block_df=3
    )
    got_capped = {(r.query_id, r.match_id) for r in capped.collect()}
    assert all(m != 9 or q == 2 for q, m in got_capped)
    assert (2, 9) in got_capped          # cold block intact
    assert not any(q == 1 for q, _ in got_capped)  # hot block excluded


def test_table_diff_all_four_statuses(spark):
    from pyspark.sql import functions as F

    from form700_etl_spark.operators.merge import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, payload string"
    ).select("k", F.md5("payload").alias("__row_hash"))
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k long, payload string"
    ).select("k", F.md5("payload").alias("__row_hash"))
    got = {r.k: r.status for r in table_diff(old, new, "k").collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


class TestCogroupAsof:
    def test_cogroup_matches_window_plan(self, spark, sf_dir):
        """The cogroup/applyInPandas as-of (two-sided per-key merge via
        Spark's purpose-built cogroup surface) agrees row-for-row with
        the production union+window JVM plan."""
        from pyspark.sql import functions as F

        from form700_etl_spark.io import table
        from form700_etl_spark.operators.asof import asof_join_via_cogroup
        from form700_etl_spark.queries.events import asof_last_purchase_per_event

        e = table(spark, sf_dir, "events")
        left = e.select("event_id", "user_id", "ts")
        right = (
            e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("purchase_id"))
        )
        out = asof_join_via_cogroup(
            left,
            right,
            key="user_id",
            ts="ts",
            value_cols=["purchase_id"],
            schema="event_id long, user_id long, ts timestamp, asof_purchase_id long",
        )
        got = {
            (r.event_id, r.asof_purchase_id) for r in out.collect()
        }
        want = {
            (r.event_id, r.last_purchase_id)
            for r in asof_last_purchase_per_event(spark, sf_dir).collect()
        }
        assert got == want


class TestArrowFeatureExtract:
    def test_arrow_twin_matches_pandas_path(self, spark, sf_dir):
        """mapInArrow and mapInPandas feature extraction agree cell-for-
        cell (same decode stub, different batch transport)."""
        from form700_etl_spark.operators.multimodal import (
            extract_features,
            extract_features_arrow,
            synthesize_media,
        )

        media = synthesize_media(spark, sf_dir)
        a = {tuple(r) for r in extract_features_arrow(media).collect()}
        b = {tuple(r) for r in extract_features(media).collect()}
        assert a == b


def test_kmv_sketch_mergeability_and_exactness_laws(spark, sf_dir):
    """KMV laws: (1) merging per-day partial sketches == the whole-set
    sketch (identical hash arrays, not just close estimates — KMV
    merge is lossless); (2) when a group has < k distinct values the
    estimate is EXACT."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.operators.sketches import (
        KMV_K,
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = kmv_sketch(e, ["event_type", "day"], "user_id", k=KMV_K)
    merged = {
        r.event_type: r.hashes
        for r in kmv_merge(daily, ["event_type"], k=KMV_K).collect()
    }
    whole = {
        r.event_type: r.hashes
        for r in kmv_sketch(e, ["event_type"], "user_id", k=KMV_K).collect()
    }
    assert merged == whole  # lossless merge: arrays identical

    # exactness below k: sketch over a column with < k distinct values
    small = kmv_sketch(e, ["event_type"], "event_type", k=KMV_K)
    est = {r.event_type: r.estimate for r in kmv_estimate(small, k=KMV_K).collect()}
    assert all(v == 1 for v in est.values()), est


def test_prefix_filter_join_is_complete_vs_naive(spark, sf_dir):
    """Prefix-filtering completeness law (the pigeonhole claim,
    executed): the prefix-filtered set-similarity join must return
    EXACTLY the pairs the naive full-inverted-index join finds at the
    same threshold — no candidate a prefix collision missed."""
    from pyspark.sql import functions as F

    from form700_etl_spark.queries.dedup import _shingles
    from form700_etl_spark.registry import all_queries

    got = {
        (r.doc1, r.doc2): r.jaccard
        for r in all_queries()["dedup_prefix_filter_join"].fn(spark, sf_dir).collect()
    }

    sh = _shingles(spark, sf_dir)  # uncapped distinct (doc_id, shingle)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc1"), F.col("shingle").alias("s1"))
    b = sh.select(F.col("doc_id").alias("doc2"), F.col("shingle").alias("s2"))
    pairs = (
        a.join(b, (F.col("s1") == F.col("s2")) & (F.col("doc1") < F.col("doc2")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    z1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    jac = F.col("common").cast("double") / (F.col("n1") + F.col("n2") - F.col("common"))
    naive = {
        (r.doc1, r.doc2): r.jaccard
        for r in pairs.join(z1, "doc1").join(z2, "doc2").filter(jac >= 0.5)
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard")).collect()
    }
    assert got == naive, (len(got), len(naive))


class TestAudioDecode:
    """The real-WAV path: every feature the distributed decode emits
    must equal a local recompute from the same deterministic synth —
    sample-exact, no tolerance (same container bytes, same parser)."""

    def test_decoded_features_match_local_recompute(self, spark, sf_dir):
        import io
        import math
        import struct
        import wave as wavelib

        from form700_etl_spark.operators.multimodal import (
            decode_audio_features,
            synth_wav_bytes,
            synthesize_audio,
        )

        got = {
            r["doc_id"]: r
            for r in decode_audio_features(synthesize_audio(spark, sf_dir)).collect()
        }
        assert len(got) > 0
        for doc_id, r in list(got.items())[:50]:
            with wavelib.open(io.BytesIO(synth_wav_bytes(doc_id)), "rb") as w:
                n = w.getnframes()
                s = struct.unpack(f"<{n}h", w.readframes(n))
            assert r["sample_rate"] == 8000 and r["n_channels"] == 1
            assert r["n_samples"] == n == 400
            assert r["duration_ms"] == 50
            assert r["peak"] == max(abs(min(s)), abs(max(s)))
            assert r["rms_e3"] == round(
                1000 * math.sqrt(sum(x * x for x in s) / n)
            )

    def test_sine_rms_physics(self, spark, sf_dir):
        """A pure sine's RMS is amp/sqrt(2); the decoded RMS must land
        within 0.5% of it (finite-cycle truncation is the only error)."""
        import math

        from form700_etl_spark.operators.multimodal import (
            decode_audio_features,
            synthesize_audio,
        )

        for r in decode_audio_features(synthesize_audio(spark, sf_dir)).collect()[:20]:
            amp = 8000 + (r["doc_id"] % 7) * 1000
            expect = 1000 * amp / math.sqrt(2)
            assert abs(r["rms_e3"] - expect) / expect < 0.005, r


class TestImageVideoDecode:
    """BMP and y4m codec-true paths: distributed decode must equal a
    local recompute from the same deterministic synth, bit-exact."""

    def test_bmp_features_match_local_recompute(self, spark, sf_dir):
        from form700_etl_spark.operators.multimodal import (
            decode_bmp_features,
            synthesize_images,
        )

        got = {
            r["doc_id"]: r
            for r in decode_bmp_features(synthesize_images(spark, sf_dir)).collect()
        }
        assert len(got) > 0
        for doc_id, r in list(got.items())[:40]:
            w, h = 8 + doc_id % 9, 8 + doc_id % 7
            assert (r["width"], r["height"], r["bpp"]) == (w, h, 24)
            assert r["n_pixels"] == w * h
            sr = sum(
                (doc_id * 3 + x * 7 + y * 11) % 256
                for x in range(w) for y in range(h)
            )
            sg = sum(
                (doc_id * 5 + x * 13 + y * 2) % 256
                for x in range(w) for y in range(h)
            )
            sb = sum(
                (doc_id * 11 + x * 3 + y * 7) % 256
                for x in range(w) for y in range(h)
            )
            assert r["mean_r_e3"] == round(1000 * sr / (w * h))
            assert r["mean_g_e3"] == round(1000 * sg / (w * h))
            assert r["mean_b_e3"] == round(1000 * sb / (w * h))

    def test_y4m_frames_match_local_recompute(self, spark, sf_dir):
        from form700_etl_spark.operators.multimodal import (
            decode_y4m_frames,
            synthesize_videos,
        )

        rows = decode_y4m_frames(synthesize_videos(spark, sf_dir)).collect()
        per_doc: dict[int, list] = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, frames in list(per_doc.items())[:40]:
            assert len(frames) == 1 + doc_id % 4  # 1 -> N generation
            for r in frames:
                assert (r["width"], r["height"]) == (8, 6)
                f = r["frame_index"]
                sy = sum((doc_id * 13 + f * 29 + i) % 256 for i in range(48))
                assert r["mean_y_e3"] == round(1000 * sy / 48)


def test_ascii_translit_matches_py2_backslashreplace(spark):
    """C6 compat: char-exact vs CPython's 'backslashreplace' (the Py2
    castAscii semantics, Form700.py:291-294) across Latin-1, BMP, and
    astral-plane code points; ASCII passes through untouched."""
    from form700_etl_spark.functions.cleaning import ascii_translit, text_cast
    from pyspark.sql import functions as F

    samples = ["héllo wörld", "café 你好 𝄞 ok", "plain ascii", ""]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r.v for r in df.select(ascii_translit("s").alias("v")).collect()]
    want = [s.encode("ascii", "backslashreplace").decode() for s in samples]
    assert got == want
    # flag plumbed through text_cast; default stays UTF-8-native
    df2 = spark.createDataFrame([(None,), ("é",)], "raw string")
    compat = [r.v for r in df2.select(text_cast("raw", ascii_compat=True).alias("v")).collect()]
    assert compat == ["", "\\xe9"]
    plain = [r.v for r in df2.select(text_cast("raw").alias("v")).collect()]
    assert plain == ["", "é"]


class TestImageDhash:
    def test_perturbed_twin_within_one_bit(self):
        """The near-dup generator moves the dHash by <= 1 bit (measured
        invariance the banding radius relies on)."""
        from form700_etl_spark.operators.multimodal import (
            bmp_dhash64,
            perturb_bmp_bytes,
            synth_noise_bmp_bytes,
        )

        for key in range(100):
            b = synth_noise_bmp_bytes(key)
            d = bin(
                (bmp_dhash64(b) ^ bmp_dhash64(perturb_bmp_bytes(b)))
                & ((1 << 64) - 1)
            ).count("1")
            assert d <= 1, (key, d)

    def test_banded_pairs_match_bruteforce(self, spark, sf_dir):
        """Pigeonhole completeness: the 4x16-band join must return
        EXACTLY the Hamming<=3 pairs a local brute force finds over
        the same (locally recomputed) hashes."""
        from form700_etl_spark.operators.multimodal import (
            DHASH_GROUP,
            DHASH_PERTURB_EVERY,
            bmp_dhash64,
            perturb_bmp_bytes,
            synth_noise_bmp_bytes,
        )
        from form700_etl_spark.io import table
        from form700_etl_spark.registry import all_queries

        ids = [
            r["doc_id"]
            for r in table(spark, sf_dir, "documents").select("doc_id").collect()
        ]
        hashes = {}
        for i in ids:
            buf = synth_noise_bmp_bytes(i // DHASH_GROUP)
            if i % DHASH_PERTURB_EVERY == 0:
                buf = perturb_bmp_bytes(buf)
            hashes[i] = bmp_dhash64(buf) & ((1 << 64) - 1)
        expect = set()
        srt = sorted(ids)
        for ai, a in enumerate(srt):
            for b in srt[ai + 1 :]:
                if bin(hashes[a] ^ hashes[b]).count("1") <= 3:
                    expect.add((a, b))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in all_queries()["multimodal_image_dhash_neardup"]
            .fn(spark, sf_dir)
            .collect()
        }
        assert got == expect, (len(got), len(expect))


class TestAudioFingerprint:
    def test_np_fast_paths_match_reference(self):
        """The numpy fast paths the distributed operators run must be
        byte/bit-identical to the per-sample reference implementations
        (int(v/4) truncates toward zero, * num // den floors — the two
        rounding modes the vectorization must reproduce exactly)."""
        from form700_etl_spark.operators.multimodal import (
            _synth_noise_wav_bytes_np,
            _volume_scale_wav_bytes_np,
            _wav_energy_fp64_np,
            synth_noise_wav_bytes,
            volume_scale_wav_bytes,
            wav_energy_fp64,
        )

        for key in range(50):
            ref = synth_noise_wav_bytes(key)
            assert _synth_noise_wav_bytes_np(key) == ref, key
            assert _volume_scale_wav_bytes_np(ref) == volume_scale_wav_bytes(
                ref
            ), key
            assert _wav_energy_fp64_np(ref) == wav_energy_fp64(ref), key
            scaled = volume_scale_wav_bytes(ref)
            assert _wav_energy_fp64_np(scaled) == wav_energy_fp64(scaled), key

    def test_volume_invariance(self):
        from form700_etl_spark.operators.multimodal import (
            synth_noise_wav_bytes,
            volume_scale_wav_bytes,
            wav_energy_fp64,
        )

        for key in range(100):
            b = synth_noise_wav_bytes(key)
            assert wav_energy_fp64(b) == wav_energy_fp64(
                volume_scale_wav_bytes(b)
            ), key

    def test_banded_pairs_match_bruteforce(self, spark, sf_dir):
        from form700_etl_spark.io import table
        from form700_etl_spark.operators.multimodal import (
            DHASH_GROUP,
            DHASH_PERTURB_EVERY,
            synth_noise_wav_bytes,
            volume_scale_wav_bytes,
            wav_energy_fp64,
        )
        from form700_etl_spark.registry import all_queries

        ids = [
            r["doc_id"]
            for r in table(spark, sf_dir, "documents").select("doc_id").collect()
        ]
        hs = {}
        for i in ids:
            buf = synth_noise_wav_bytes(i // DHASH_GROUP)
            if i % DHASH_PERTURB_EVERY == 0:
                buf = volume_scale_wav_bytes(buf)
            hs[i] = wav_energy_fp64(buf) & ((1 << 64) - 1)
        srt = sorted(ids)
        expect = {
            (a, b)
            for ai, a in enumerate(srt)
            for b in srt[ai + 1 :]
            if bin(hs[a] ^ hs[b]).count("1") <= 3
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in all_queries()["multimodal_audio_fp_neardup"]
            .fn(spark, sf_dir)
            .collect()
        }
        assert got == expect, (len(got), len(expect))


def test_ams_f2_sketch_merges_by_addition(spark, sf_dir):
    """AMS tug-of-war law: the _AMS_STREAMS (5 groups x 13 = 65)
    sign-stream sums computed per shard and ADDED equal the whole-stream
    sums (the sketch's mergeability — at scale each shard ships 65
    counters, never rows), and the median
    estimate lands within the error band of the median-of-means layout
    (group-mean stddev sqrt(2/13)*F2 ~ 0.39*F2; the 5-way median stays
    within +-60% w.h.p. — loose, but locks sign conventions, the
    bias-safe estimator shape, and scale)."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.queries.sqlapi import _AMS_STREAMS, _ams_sign_sql

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    sign_cols = [
        F.expr(_ams_sign_sql(j).replace("AS VARCHAR", "AS STRING").replace("//", "DIV"))
        .cast("long")
        .alias(f"s{j}")
        for j in range(1, _AMS_STREAMS + 1)
    ]
    sums = [F.sum(f"s{j}").cast("long").alias(f"z{j}") for j in range(1, _AMS_STREAMS + 1)]
    whole = li.select(*sign_cols).agg(*sums).collect()[0]
    shards = (
        li.withColumn("shard", (F.col("l_orderkey") % 3).cast("int"))
        .select("shard", *sign_cols)
        .groupBy("shard")
        .agg(*sums)
        .collect()
    )
    assert len(shards) == 3
    for j in range(1, _AMS_STREAMS + 1):
        assert sum(r[f"z{j}"] for r in shards) == whole[f"z{j}"], j

    from form700_etl_spark.queries.sqlapi import sketch_ams_f2_selfjoin

    row = sketch_ams_f2_selfjoin(spark, sf_dir).collect()[0]
    assert abs(row.rel_error) <= 0.6, row
    assert row.ams_estimate_f2 > 0 and row.exact_f2 > 0


def test_temperature_mix_allocations_hit_budget_exactly(spark, sf_dir):
    """Largest-remainder apportionment law: the per-source allocations
    sum to the epoch budget EXACTLY (the property per-stratum half-up
    rounding cannot guarantee), and every source gets >= its floor
    quota (Hamilton's method never takes below-floor)."""
    from form700_etl_spark.queries.pipeline_ops import _MIX_BUDGET
    from form700_etl_spark.registry import all_queries

    rows = (
        all_queries()["sample_source_temperature_mix"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert sum(r.alloc for r in rows) == _MIX_BUDGET
    assert all(r.alloc >= 0 for r in rows)


def test_leakage_safe_split_no_pair_straddles(spark, sf_dir):
    """Constructive guarantee of split_leakage_safe_assignment: every
    near-dup pair (the same Jaccard>=0.1 graph the assignment is built
    from) lands with both members in the SAME split, and singleton
    docs get exactly the plain doc_id split rule."""
    from form700_etl_spark.functions.splits import split_col
    from form700_etl_spark.registry import all_queries
    from pyspark.sql import functions as F

    qs = all_queries()
    assign = qs["split_leakage_safe_assignment"].fn(spark, sf_dir)
    pairs = (
        qs["dedup_ngram_jaccard"].fn(spark, sf_dir).select("doc1", "doc2")
    )
    a1 = assign.select(
        F.col("doc_id").alias("doc1"), F.col("split").alias("s1")
    )
    a2 = assign.select(
        F.col("doc_id").alias("doc2"), F.col("split").alias("s2")
    )
    straddlers = (
        pairs.join(a1, "doc1").join(a2, "doc2").filter("s1 <> s2").count()
    )
    assert straddlers == 0
    # paired docs exist at this SF, so the guarantee is non-vacuous
    assert pairs.count() > 0
    # singletons: component_id == doc_id -> split == plain rule
    single = assign.filter(F.col("component_id") == F.col("doc_id"))
    mismatched = single.filter(
        F.col("split") != split_col("doc_id")
    ).count()
    assert mismatched == 0


def test_epoch_repetition_mix_copy_law(spark, sf_dir):
    """Every doc appears floor(e) or ceil(e) times (e = its language's
    recipe epochs), copies are numbered 1..n with no gaps, and the
    realized per-lang volume is within the fractional-epoch tolerance
    of e x corpus."""
    from form700_etl_spark.queries.pipeline_ops import _EPOCH_RECIPE
    from form700_etl_spark.registry import all_queries
    from pyspark.sql import functions as F
    import math

    out = all_queries()["sample_epoch_repetition_mix"].fn(spark, sf_dir)
    per_doc = (
        out.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("epoch_copy").alias("lo"),
            F.max("epoch_copy").alias("hi"),
        )
        .collect()
    )
    for r in per_doc:
        e = _EPOCH_RECIPE.get(r.lang, 1.0)
        assert r.n in {math.floor(e), math.ceil(e)}, (r, e)
        assert (r.lo, r.hi) == (1, r.n)  # dense copy numbering


def test_lsh_recall_eval_semi_join_equivalence(spark, sf_dir):
    """Pins the r15 rewrite of dedup_lsh_recall_eval: because J >= 0.5
    implies at least one shared shingle, the verified LSH arm equals
    candidates INTERSECT exact_pairs — so the semi-join shape must
    produce exactly the pair set the old candidate re-verification
    (shingle join + groupBy + size joins) produced."""
    from pyspark.sql import functions as F

    from form700_etl_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
    )
    from form700_etl_spark.queries.dedup import (
        MAX_SHINGLE_DF,
        _BAND_ROWS,
        _N_HASHES,
        _RECALL_J,
        _shingles_cached,
    )

    sh = _shingles_cached(spark, sf_dir, max_df=MAX_SHINGLE_DF).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    def thresholded(pairs):
        s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
        s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
        return (
            pairs.join(s1, "doc1")
            .join(s2, "doc2")
            .filter(
                F.col("common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("common"))
                >= _RECALL_J
            )
            .select("doc1", "doc2")
        )

    a = sh.select(F.col("doc_id").alias("doc1"), F.col("shingle").alias("s1"))
    exact_pairs = thresholded(
        a.join(
            sh.select(F.col("doc_id").alias("doc2"), F.col("shingle").alias("s2")),
            (F.col("s1") == F.col("s2")) & (F.col("doc1") < F.col("doc2")),
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = lsh_candidates(
        minhash_signatures(sh, n_hashes=_N_HASHES),
        band_rows=_BAND_ROWS,
        n_hashes=_N_HASHES,
    ).localCheckpoint()
    # OLD shape: re-verify every candidate against the shingle table
    ca = cand.join(a, "doc1").select("doc1", "doc2", "s1")
    b2 = sh.select(F.col("doc_id").alias("bd2"), F.col("shingle").alias("s2"))
    old_lsh = thresholded(
        ca.join(b2, (F.col("s1") == F.col("s2")) & (F.col("doc2") == F.col("bd2")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # NEW shape: semi-join the exact arm
    new_lsh = cand.join(exact_pairs, ["doc1", "doc2"]).select("doc1", "doc2")

    old_set = {(r.doc1, r.doc2) for r in old_lsh.collect()}
    new_set = {(r.doc1, r.doc2) for r in new_lsh.collect()}
    assert old_set == new_set
    assert new_set  # non-vacuous at this SF
    # and the subset law the rewrite rests on
    exact_set = {(r.doc1, r.doc2) for r in exact_pairs.collect()}
    assert new_set <= exact_set
