"""ETL transform tests: codec, flatten, validation, derived columns, dedup.

Mirrors the reference's DataValidationServiceTest / WifiDataTransformationServiceTest
coverage (SURVEY.md §5 layer 1).
"""

import json

import pytest
from pyspark.sql import functions as F

from tests.wifi_fixtures import NOW_MS, documents_as_json_lines, make_documents
from wifi_location_data_pipeline_spark.operators.transform import (
    conform_to_measurements_schema,
    transform_documents,
)
from wifi_location_data_pipeline_spark.schemas import RAW_SCAN_DOCUMENT_SCHEMA
from wifi_location_data_pipeline_spark.sources.codec import decode_scan_lines, encode_scan_line


@pytest.fixture(scope="module")
def docs_df(spark):
    lines = documents_as_json_lines()
    df = spark.createDataFrame([(l,) for l in lines], "json string")
    parsed = df.select(F.from_json("json", RAW_SCAN_DOCUMENT_SCHEMA).alias("doc")).select(
        "doc.*", F.lit("mem://fixture").alias("source_file")
    )
    return parsed.cache()


@pytest.fixture(scope="module")
def measurements(docs_df):
    return transform_documents(docs_df, now_ms=F.lit(NOW_MS)).cache()


def test_codec_roundtrip(spark):
    lines = documents_as_json_lines(make_documents(n_docs=5))
    df = spark.createDataFrame([(l,) for l in lines], "json string")
    encoded = df.select(encode_scan_line(F.col("json")).alias("value"))
    decoded = decode_scan_lines(encoded)
    assert decoded.count() == len(lines)
    assert decoded.schema.fieldNames()[: len(RAW_SCAN_DOCUMENT_SCHEMA)] == RAW_SCAN_DOCUMENT_SCHEMA.fieldNames()


def test_codec_drops_invalid_lines(spark):
    rows = [("not-base64!!!",), ("",), ("   ",), ("aGVsbG8=",)]  # last: base64 but not gzip
    df = spark.createDataFrame(rows, "value string")
    assert decode_scan_lines(df).count() == 0


def test_flatten_produces_both_tiers(measurements):
    statuses = {r["connection_status"] for r in measurements.select("connection_status").distinct().collect()}
    assert statuses == {"CONNECTED", "SCAN"}


def test_connected_only_cols_null_for_scan_rows(measurements):
    scan_rows = measurements.filter("connection_status = 'SCAN'")
    assert scan_rows.filter(F.col("link_speed").isNotNull()).count() == 0
    connected = measurements.filter("connection_status = 'CONNECTED'")
    assert connected.filter(F.col("link_speed").isNull()).count() == 0


def test_stage1_filters_reject_edge_cases(measurements):
    bad_bssids = {
        "00:00:00:00:00:00", "ff:ff:ff:ff:ff:ff",  # invalid MACs
        "11:22:33:44:55:66", "11:22:33:44:55:67",  # rssi out of range
        "11:22:33:44:55:68",                        # lat out of range
        "11:22:33:44:55:69",                        # accuracy > 150
        "11:22:33:44:55:6a", "11:22:33:44:55:6b",  # future / too old
        "00:23:6c:11:22:33",                        # hotspot OUI (EXCLUDE action)
    }
    surviving = {r["bssid"] for r in measurements.select("bssid").distinct().collect()}
    assert surviving.isdisjoint(bad_bssids)
    # the good edge-case row (hyphens+uppercase) survives, normalized
    assert "aa:bb:cc:00:11:22" in surviving


def test_bssid_normalized_and_ssid_cleaned(measurements):
    row = measurements.filter("bssid = '22:33:44:55:66:77'").first()
    assert row is not None
    assert row["ssid"] == "nul\x00ssid".replace("\x00", "").strip() == "nulssid"


def test_quality_weight_rules(measurements):
    rows = measurements.select("connection_status", "link_speed", "rssi", "quality_weight").collect()
    for r in rows:
        if r.connection_status == "SCAN":
            assert r.quality_weight == 1.0
        elif r.link_speed is not None and r.link_speed < 50 and r.rssi > -70:
            assert r.quality_weight == 1.5
        else:
            assert r.quality_weight == 2.0


def test_quality_score_bounds(measurements):
    stats = measurements.agg(
        F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")
    ).first()
    assert 0.5 <= stats.lo <= stats.hi <= 1.0


def test_deterministic_ids_and_dedup(docs_df):
    m1 = transform_documents(docs_df, now_ms=F.lit(NOW_MS))
    doubled = docs_df.unionByName(docs_df)
    m2 = transform_documents(doubled, now_ms=F.lit(NOW_MS))
    assert m1.count() == m2.count()  # dedup collapses the duplicate documents
    ids1 = {r["id"] for r in m1.select("id").collect()}
    ids2 = {r["id"] for r in m2.select("id").collect()}
    assert ids1 == ids2


def test_conform_schema_has_45_columns(measurements):
    conformed = conform_to_measurements_schema(measurements)
    assert len(conformed.columns) == 45
    assert conformed.filter(F.col("is_global_outlier").isNotNull()).count() == 0


def test_tier_rows_survive_null_and_empty_sibling_arrays(spark):
    """Both tiers come from one generator over concat(connected, flatten(scan
    rows)); concat and flatten are NULL if any input is NULL, so a NULL or
    empty array must cost only its own rows, never the document's others."""
    import copy

    base = next(d for d in make_documents(n_docs=8) if d["wifiConnectedEvents"])
    sr = base["scanResults"][0]
    variants = {
        "connected_null": dict(base, wifiConnectedEvents=None),
        "connected_empty": dict(base, wifiConnectedEvents=[]),
        "scans_null": dict(base, scanResults=None),
        "scans_empty": dict(base, scanResults=[]),
        "results_null": dict(base, scanResults=[dict(sr, results=None), sr]),
        "results_only_null": dict(base, scanResults=[dict(sr, results=None)]),
    }
    for name, doc in variants.items():
        doc = copy.deepcopy(doc)
        doc["model"] = name
        variants[name] = doc
    expected = {
        (name, status): n
        for name, doc in variants.items()
        for status, n in (
            ("CONNECTED", len(doc["wifiConnectedEvents"] or [])),
            ("SCAN", sum(len(s["results"] or []) for s in doc["scanResults"] or [])),
        )
        if n
    }
    assert {k[0] for k in expected} == set(variants)  # every variant keeps rows
    df = spark.createDataFrame(
        [(l,) for l in documents_as_json_lines(list(variants.values()))], "json string"
    )
    docs = df.select(F.from_json("json", RAW_SCAN_DOCUMENT_SCHEMA).alias("doc")).select("doc.*")
    out = transform_documents(docs, now_ms=F.lit(NOW_MS), dedup=False)
    got = {
        (r["device_model"], r["connection_status"]): r["count"]
        for r in out.groupBy("device_model", "connection_status").count().collect()
    }
    assert got == expected


def test_one_generator_matches_tier_union(docs_df):
    """transform_documents's rows (before dedup) are exactly the union of the
    two tier frames after the same stage-1 and OUI filters."""
    from wifi_location_data_pipeline_spark.operators.flatten import (
        flatten_connected_events,
        flatten_scan_results,
        union_tiers,
        with_derived_columns,
    )
    from wifi_location_data_pipeline_spark.operators.hotspot import apply_oui_filter
    from wifi_location_data_pipeline_spark.operators.validation import apply_stage1_filters

    union = union_tiers(flatten_connected_events(docs_df), flatten_scan_results(docs_df))
    reference = apply_oui_filter(
        apply_stage1_filters(with_derived_columns(union), now_ms=F.lit(NOW_MS)),
    )
    one_pass = transform_documents(docs_df, now_ms=F.lit(NOW_MS), dedup=False)
    assert one_pass.columns == reference.columns
    key = ["id", "bssid", "rssi", "source_file"]
    assert sorted(one_pass.select(*key).collect()) == sorted(reference.select(*key).collect())
    assert one_pass.count() > 0


def test_oui_filter_actions_are_null_safe(spark):
    """EXCLUDE drops blacklisted OUIs (any case) and keeps a NULL bssid, as
    the left-anti join did; FLAG marks blacklisted rows and gives ``false``,
    not NULL, for a NULL bssid; LOG_ONLY passes every row through."""
    from wifi_location_data_pipeline_spark import config as C
    from wifi_location_data_pipeline_spark.operators.hotspot import apply_oui_filter

    hot = C.HOTSPOT_OUI_BLACKLIST[0].lower()
    df = spark.createDataFrame(
        [("hot", f"{hot}:11:22:33"), ("cold", "aa:bb:cc:11:22:33"), ("none", None)],
        "id string, bssid string",
    )
    excluded = apply_oui_filter(df, action=C.HOTSPOT_ACTION_EXCLUDE)
    assert sorted(r["id"] for r in excluded.collect()) == ["cold", "none"]
    flagged = apply_oui_filter(df, action=C.HOTSPOT_ACTION_FLAG)
    assert {r["id"]: r["is_mobile_hotspot_oui"] for r in flagged.collect()} == {
        "hot": True, "cold": False, "none": False,
    }
    assert apply_oui_filter(df, action=C.HOTSPOT_ACTION_LOG_ONLY).count() == 3


def test_ingest_plan_decodes_each_line_once(spark, tmp_path, measurements):
    """The executed ingest plan scans the raw zone once and has ONE Python
    node: the gzip UDF is nondeterministic, so Catalyst neither copies it
    into the pushed ``_json IS NOT NULL`` filter nor re-runs it, and both
    tiers come from one generator (the two-explode union planned 2 text
    scans and 4 ArrowEvalPython nodes). The OUI blacklist is a literal IN
    list, so the plan also holds no broadcast dimension built from a driver
    list (no BroadcastExchange, no Scan ExistingRDD)."""
    import base64
    import gzip

    from wifi_location_data_pipeline_spark.sources.raw_scan import read_raw_scan_documents

    zone = tmp_path / "zone"
    zone.mkdir()
    with open(zone / "u0.txt", "w") as f:
        for line in documents_as_json_lines():
            f.write(base64.b64encode(gzip.compress(line.encode(), mtime=0)).decode() + "\n")
    out = transform_documents(read_raw_scan_documents(spark, str(zone)), now_ms=F.lit(NOW_MS))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan text") == 1, plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1, plan
    assert "BroadcastExchange" not in plan and "Scan ExistingRDD" not in plan, plan
    assert out.count() == measurements.count()


def test_stream_name_extraction(spark):
    """FeedUploadEvent.extractStreamName parity (FeedUploadEvent.java:94-165):
    second-to-last path component, URL-decoded, 'unknown' on failure."""
    from wifi_location_data_pipeline_spark.sources.codec import stream_name_expr

    cases = [
        ("year%3D2025/month%3D08/day%3D13/hour%3D22/MVS-stream/file.txt", "MVS-stream"),
        ("year=2025/month=08/day=13/hour=22/MVS-stream/file.txt", "MVS-stream"),
        ("2025/08/13/22/MVS-stream/file.txt", "MVS-stream"),
        ("prefix/2025/08/13/22/MVS-stream/file.txt", "MVS-stream"),
        ("MVS-stream/file.txt", "MVS-stream"),
        ("just-a-filename.txt", "unknown"),
        ("", "unknown"),
        ("a//file.txt", "unknown"),  # blank component
        ("x" * 201 + "/file.txt", "unknown"),  # over length limit
    ]
    df = spark.createDataFrame([(k,) for k, _ in cases], "key string")
    got = [r["s"] for r in df.select(stream_name_expr(F.col("key")).alias("s")).collect()]
    assert got == [want for _, want in cases]


def test_processing_batch_id_is_per_source_file(measurements):
    """Batch id per processed object (DefaultFeedProcessor.java:70): the
    source file path when lineage exists."""
    vals = {r["processing_batch_id"] for r in measurements.select("processing_batch_id").distinct().collect()}
    assert vals == {"mem://fixture"}


def test_bpe_merge_semantics(spark):
    """Pins bpe_merge_train's merge-application contract: the merge is
    iterated leftmost-non-overlapping literal replace (3 passes), and all
    THREE evaluators — Spark, DuckDB, and Python str.replace — compute the
    identical parse on adversarial inputs (runs of one symbol up to length
    8, alternations, interleavings). For runs <= 4 and for alternating
    A!=B patterns the result equals strict left-to-right BPE; for odd
    runs >= 5 the parse differs from strict BPE in which occurrences pair
    up (documented in the query docstring) while remaining bit-identical
    across engines — the property the cross-engine value gate needs."""
    import duckdb

    def py3(s):
        for _ in range(3):
            s = s.replace(" l l ", " ll ")
        return s

    def strict(sym, a, b):
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return out

    con = duckdb.connect()
    cases = [list("l" * k) for k in range(2, 9)]
    cases += [list("alla"), list("lal"), list("llxll"), list("lllxl")]
    for sym in cases:
        s = " " + " ".join(sym) + " "
        expected = py3(s)
        sql_expr = f"'{s}'"
        for _ in range(3):
            sql_expr = f"replace({sql_expr}, ' l l ', ' ll ')"
        got_spark = spark.sql(f"SELECT {sql_expr} AS r").collect()[0]["r"]
        got_duck = con.execute(f"SELECT {sql_expr}").fetchone()[0]
        assert got_spark == got_duck == expected, (sym, got_spark, got_duck, expected)
        # strict-BPE equivalence holds through run length 4
        longest_run = max(
            (len(list(g)) for _, g in __import__("itertools").groupby(sym)),
            default=0,
        )
        if longest_run <= 4:
            assert expected.strip().split(" ") == strict(sym, "l", "l"), sym
