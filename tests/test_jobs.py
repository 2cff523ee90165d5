"""End-to-end job chain through the CLI surface (jobs.py):

transform → quality → localize → localize --prior-state → position, each
invoked exactly as a user would
(`python -m wifi_location_data_pipeline_spark.jobs <job> ...`), sharing one
SparkSession via build_session's getOrCreate."""

import base64
import gzip
import os
import json
import math

import pytest

from tests.wifi_fixtures import PLANTED_APS, documents_as_json_lines
from wifi_location_data_pipeline_spark.jobs import main as jobs_main


@pytest.fixture(scope="module")
def zone(tmp_path_factory):
    base = tmp_path_factory.mktemp("jobs")
    raw = base / "raw"
    raw.mkdir()
    with open(raw / "u0.txt", "w") as f:
        for line in documents_as_json_lines():
            f.write(base64.b64encode(gzip.compress(line.encode(), mtime=0)).decode() + "\n")
    return base


def test_job_chain(spark, zone):
    table = str(zone / "measurements")
    clean = str(zone / "clean")
    aps = str(zone / "aps")
    out = str(zone / "positions")

    jobs_main(["transform", "--raw-zone", str(zone / "raw"), "--table", table,
               "--mode", "overwrite"])
    assert spark.read.parquet(table).count() > 0

    jobs_main(["quality", "--table", table, "--out", clean])
    cleaned = spark.read.parquet(clean)
    assert "is_global_outlier" in cleaned.columns and cleaned.count() > 0

    jobs_main(["localize", "--table", clean, "--ap-table", aps])
    located = {r["mac_addr"]: r for r in spark.read.parquet(aps).collect()}
    assert located
    # localization recovers at least one planted AP within 60 m
    for mac, _ssid, lat, lon, *_ in PLANTED_APS[:3]:
        if mac in located:
            r = located[mac]
            err_m = math.hypot(
                (r["latitude"] - lat) * 111_000.0,
                (r["longitude"] - lon) * 111_000.0 * math.cos(math.radians(lat)),
            )
            assert err_m < 60.0, (mac, err_m)

    # positioning request against the freshly localized AP table
    req_path = str(zone / "requests.json")
    known = next(iter(located))
    with open(req_path, "w") as f:
        f.write(json.dumps({
            "requestId": "job-req-1", "client": "cli", "application": "test",
            "calculationDetail": False,
            "wifiScanResults": [{
                "macAddress": known, "signalStrength": -60.0, "frequency": 2437,
                "ssid": "t", "linkSpeed": None, "channelWidth": None,
            }],
        }) + "\n")
    jobs_main(["position", "--requests", req_path, "--ap-table", aps, "--out", out])
    pos = spark.read.parquet(out).collect()
    assert len(pos) == 1 and pos[0]["request_id"] == "job-req-1"

    # --reasons = the API's calculationDetail=true: selection diagnostics ride along
    out_r = str(zone / "positions_reasons")
    jobs_main([
        "position", "--requests", req_path, "--ap-table", aps,
        "--out", out_r, "--reasons",
    ])
    pr = spark.read.parquet(out_r).collect()
    assert len(pr) == 1
    info = {e["algorithm"]: e for e in pr[0]["selection_info"]}
    assert pr[0]["selection_context"]["ap_count_class"] == "SINGLE_AP"
    assert info["proximity"]["selected"] and info["proximity"]["reasons"]
    # the reasons explain the answer's own selection: selection_info selects
    # exactly calculation_info's algorithms, at the same weights
    assert {a: e["weight"] for a, e in info.items() if e["selected"]} == {
        e["algorithm"]: e["weight"] for e in pr[0]["calculation_info"]}

    # a second localize fuses the batch with the first run's AP table, and
    # writes a table the position job reads
    aps2 = str(zone / "aps2")
    jobs_main(["localize", "--table", clean, "--ap-table", aps2, "--prior-state", aps])
    fused = {r["mac_addr"]: r for r in spark.read.parquet(aps2).collect()}
    assert set(located) <= set(fused)
    assert all(r["status"] == "active" and r["horizontal_accuracy"] > 0 for r in fused.values())
    out2 = str(zone / "positions2")
    jobs_main(["position", "--requests", req_path, "--ap-table", aps2, "--out", out2])
    pos2 = spark.read.parquet(out2).collect()
    assert len(pos2) == 1 and pos2[0]["request_id"] == "job-req-1"


def test_dedup_clusters_loop_matches_union_find(spark, monkeypatch):
    """The >2M-pair distributed label-propagation loop must produce the same
    components as the small-graph union-find path (forced via the cutoff)."""
    import wifi_location_data_pipeline_spark.plans.llm_queries as L

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")
    small = {
        tuple(r)
        for r in L._dedup_clusters_spark_fn(spark, sf_dir).collect()
    }
    monkeypatch.setattr(L, "CLUSTERS_UNION_FIND_MAX_PAIRS", -1)
    looped = {
        tuple(r)
        for r in L._dedup_clusters_spark_fn(spark, sf_dir).collect()
    }
    assert small == looped and len(small) > 0


def test_dedup_job(spark, tmp_path):
    """jobs dedup: pairs + cluster assignment over a documents dir."""
    import shutil

    from wifi_location_data_pipeline_spark.jobs import main as jobs_main

    d = str(tmp_path / "corpus")
    (tmp_path / "corpus").mkdir()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")
    shutil.copyfile(f"{sf_dir}/documents.parquet", f"{d}/documents.parquet")
    jobs_main(["dedup", "--data-dir", d, "--out", f"{d}/pairs", "--method", "minhash"])
    jobs_main(["dedup", "--data-dir", d, "--out", f"{d}/clusters", "--method", "clusters"])
    pairs = spark.read.parquet(f"{d}/pairs")
    clusters = spark.read.parquet(f"{d}/clusters")
    assert pairs.count() > 0 and set(pairs.columns) == {"doc_a", "doc_b", "jaccard"}
    assert clusters.count() > 0 and set(clusters.columns) == {
        "doc_id", "canonical_doc_id", "cluster_size",
    }


def test_comparison_scenario_decision_tree(spark):
    """ComparisonScenario.determineScenario (ComparisonScenario.java:99-133)
    + agreement analysis (ComparisonService.java:250-349): hand-planted rows,
    expectations hand-derived from the Java decision tree."""
    from wifi_location_data_pipeline_spark.operators.comparison import (
        classify_comparison,
    )

    cols = (
        "request_id string, vlss_success boolean, frisco_success boolean, "
        "frisco_error_message string, vlss_accuracy double, vlss_lat double, "
        "vlss_lon double, frisco_lat double, frisco_lon double, "
        "frisco_accuracy double"
    )
    rows = [
        # no VLSS response at all → FRISCO_ONLY regardless of anything else
        ("r1", None, True, None, None, None, None, 40.0, -75.0, 20.0),
        # both succeed, identical positions → PERFECT AGREEMENT, ratio 0.0
        ("r2", True, True, None, 50.0, 40.0, -75.0, 40.0, -75.0, 20.0),
        # both succeed, ~111 m apart, acc 30/20 → expected 36.06 < 111 →
        # ratio 111/20 = 5.55 > 2.5 → EXTREMELY OVERCONFIDENT
        ("r3", True, True, None, 30.0, 40.0, -75.0, 40.001, -75.0, 20.0),
        # both succeed but VLSS acc >= 250 → WIFI VS CELL, ratio unset
        ("r4", True, True, None, 300.0, 40.0, -75.0, 40.001, -75.0, 20.0),
        # VLSS ok + insufficient-AP error + acc >= 250 → CELL FALLBACK
        ("r5", True, False, "No known access points found in database",
         250.0, 40.0, -75.0, None, None, None),
        # same error but acc < 250 → FRISCO_ERROR_WIFI → "FRISCO FAILURE"
        ("r6", True, False, "No known access points found in database",
         100.0, 40.0, -75.0, None, None, None),
        # non-AP error + acc >= 250 → FRISCO_ERROR_CELL → "NO WIFI COVERAGE"
        ("r7", True, False, "backend timeout", 400.0, 40.0, -75.0, None, None, None),
        # insufficient-AP phrasing via the two-keyword branch, NULL accuracy
        # → NOT cell fallback (accuracy requirement) → ERROR_WIFI
        ("r8", True, False, "Insufficient access point data", None,
         40.0, -75.0, None, None, None),
        # VLSS failed, Frisco ok → VLSS_ERROR_FRISCO_SUCCESS (WIFI)
        ("r9", False, True, None, None, None, None, 40.0, -75.0, 15.0),
        # both failed → BOTH_INSUFFICIENT_DATA (NONE)
        ("r10", False, False, "whatever", None, None, None, None, None, None),
        # null frisco_success behaves as failure (Boolean.TRUE.equals)
        ("r11", False, None, None, None, None, None, None, None, None),
        # both succeed, 111 m apart, acc 100/80 → expected 128 > 111 → GOOD
        ("r12", True, True, None, 100.0, 40.0, -75.0, 40.001, -75.0, 80.0),
        # VLSS FAILED but its response still carries locationInfo coords:
        # performComparisonAnalysis is gated on vlssSuccess TRUE
        # (ComparisonService.java:246) → metrics must stay NULL
        ("r13", False, True, None, 50.0, 40.0, -75.0, 40.001, -75.0, 20.0),
    ]
    out = {
        r["request_id"]: r
        for r in classify_comparison(spark.createDataFrame(rows, cols)).collect()
    }
    expect = {
        "r1": ("FRISCO_ONLY_ANALYSIS", "WIFI", None),
        "r2": ("BOTH_WIFI_SUCCESS", "WIFI", "PERFECT AGREEMENT"),
        "r3": ("BOTH_WIFI_SUCCESS", "WIFI", "FRISCO EXTREMELY OVERCONFIDENT"),
        "r4": ("BOTH_WIFI_SUCCESS", "WIFI", "WIFI VS CELL DISAGREEMENT"),
        "r5": ("VLSS_CELL_FALLBACK_DETECTED", "CELL", "NO WIFI COVERAGE"),
        "r6": ("VLSS_SUCCESS_FRISCO_ERROR_WIFI", "WIFI", "FRISCO FAILURE"),
        "r7": ("VLSS_SUCCESS_FRISCO_ERROR_CELL", "CELL", "NO WIFI COVERAGE"),
        "r8": ("VLSS_SUCCESS_FRISCO_ERROR_WIFI", "WIFI", "FRISCO FAILURE"),
        "r9": ("VLSS_ERROR_FRISCO_SUCCESS", "WIFI", None),
        "r10": ("BOTH_INSUFFICIENT_DATA", "NONE", None),
        "r11": ("BOTH_INSUFFICIENT_DATA", "NONE", None),
        "r12": ("BOTH_WIFI_SUCCESS", "WIFI", "GOOD AGREEMENT"),
        "r13": ("VLSS_ERROR_FRISCO_SUCCESS", "WIFI", None),
    }
    got = {
        k: (v["scenario"], v["location_type"], v["agreement_analysis"])
        for k, v in out.items()
    }
    assert got == expect
    assert out["r2"]["confidence_ratio"] == 0.0
    assert out["r4"]["confidence_ratio"] is None  # early return before ratio
    assert abs(out["r3"]["confidence_ratio"] - out["r3"]["haversine_distance_m"] / 20.0) < 1e-9
    # special scenarios never report a distance (Java early-returns)
    assert out["r5"]["haversine_distance_m"] is None
    # failed-VLSS row with coordinates present: no analysis columns at all
    assert out["r13"]["haversine_distance_m"] is None
    assert out["r13"]["expected_uncertainty_m"] is None
    assert out["r13"]["confidence_ratio"] is None


def test_shingle_kernel_null_and_short_text():
    """The Arrow shingle kernel must mirror the SQL spec's NULL semantics:
    ``WHERE size(split(text,' ')) >= n`` drops NULL text (size(NULL) = -1)
    and sub-n-token docs, without crashing the batch (a NULL text in a
    user-supplied corpus killed the whole dedup job before the guard)."""
    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        _batch_shingle_bases,
    )

    keep, counts, offsets, bases = _batch_shingle_bases(
        [None, "a b", "a b c d", float("nan"), "x y z"], 3
    )
    assert keep == [2, 4]          # NULL, 2-token, and NaN rows dropped
    assert list(counts) == [2, 1]  # "a b c d" -> 2 shingles, "x y z" -> 1
    assert list(offsets) == [0, 2]
    import hashlib

    exp = int(hashlib.md5(b"a b c").hexdigest()[:15], 16)
    assert bases[0] == exp         # bit-identical to conv(substr(md5,1,15),16,10)


def test_substring_span_interval_merging(spark):
    """Planted docs pin the gaps-and-islands span semantics: two documents
    share a verbatim 26-token passage at different offsets, producing three
    overlapping 24-token window hits per doc that must merge into ONE
    26-token span (consecutive-position islands would report 3 windows as
    separate spans; naive summing would count 72 tokens)."""
    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        _substring_spans_spark_fn,
    )

    shared = " ".join(f"s{i}" for i in range(26))      # 26-token shared passage
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, f"{uniq('a', 5)} {shared} {uniq('b', 4)}"),   # passage at offset 6
        (2, f"{shared} {uniq('c', 10)}"),                 # passage at offset 1
        (3, uniq("d", 40)),                               # no shared content
    ]
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="ssp_unit_")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")
    for f in os.listdir(sf_dir):  # register_views wants the full table set
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["n_dup_windows"])
        for r in _substring_spans_spark_fn(spark, d).collect()
    }
    # 26-token passage -> 3 stride-1 windows of 24 tokens; merged span = 26
    assert got == {1: (1, 26, 3), 2: (1, 26, 3)}


def test_signature_table_memo_rearms_and_invalidates(spark):
    """minhash_signature_table memo contract: same corpus -> same DataFrame
    (one kernel build shared by all consumers); catalog.clearCache() must
    RE-ARM the persist on the next hit (without it every consumer would
    silently recompute the kernel uncached); regenerating the corpus
    in-place must miss the memo (fingerprint keying — the round-5 ADVICE
    staleness class), release the superseded table from the cache, and
    rebuild from the new rows."""
    import os
    import shutil
    import tempfile
    import time

    import pyarrow.parquet as pq

    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        minhash_signature_table,
    )

    d = tempfile.mkdtemp(prefix="sig_memo_")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))

    t1 = minhash_signature_table(spark, d)
    assert minhash_signature_table(spark, d) is t1          # memo hit
    assert t1.storageLevel.useMemory
    spark.catalog.clearCache()
    t2 = minhash_signature_table(spark, d)
    assert t2 is t1 and t2.storageLevel.useMemory           # re-armed
    # in-place regeneration (mtime changes) -> memo miss, fresh build
    time.sleep(0.01)
    os.utime(os.path.join(d, "documents.parquet"))
    assert minhash_signature_table(spark, d) is not t1
    # regeneration with new content: half the documents
    docs = pq.read_table(os.path.join(d, "documents.parquet"))
    half = docs.slice(0, docs.num_rows // 2)
    pq.write_table(half, os.path.join(d, "documents.parquet"))
    t3 = minhash_signature_table(spark, d)
    assert not t1.storageLevel.useMemory  # superseded table was released
    assert t3.count() == half.num_rows


def test_spread_view_survives_corpus_switching(spark):
    """spread_documents_src memo contract across ALTERNATING corpora
    (A -> B -> A): the round-5 ADVICE bug class where all corpora shared
    one global temp view name, so the memo hit for A returned a view name
    rebound to B's documents and every spread consumer silently read the
    wrong corpus. The view name is now derived from (dir, fingerprint), so
    each memoized name stays permanently bound to its own corpus."""
    import duckdb

    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        spread_documents_src,
    )

    from pyspark.sql import functions as F

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    q = "SELECT sum(length(text)) FROM '{}/documents.parquet'"
    n_a = duckdb.sql(q.format(a)).fetchone()[0]
    n_b = duckdb.sql(q.format(b)).fetchone()[0]
    assert n_a != n_b

    def total_len(view):
        return spark.table(view).agg(F.sum(F.length("text"))).collect()[0][0]

    src_a = spread_documents_src(spark, a)
    src_b = spread_documents_src(spark, b)
    src_a2 = spread_documents_src(spark, a)  # memo hit after the B switch
    assert src_a2 == src_a
    assert total_len(src_a) == n_a
    assert total_len(src_b) == n_b


def test_text_family_null_text_cross_engine_agreement(spark, tmp_path):
    """User-supplied corpora can carry NULL text, where the engines'
    primitives diverge by default (Spark size(split(NULL)) = -1 vs DuckDB
    len(NULL) = NULL; Spark concat NULL-propagates, DuckDB skips; ANSI
    element_at raises where list indexing NULLs). Round 6 added shared
    NULL/text guards across the text family — this net runs every
    text-reading oracle query on a 20%-NULL corpus through BOTH engines
    and requires exact agreement (the generated corpora contain no NULLs,
    so the standard gates cannot cover this class)."""
    import duckdb
    import pandas as pd

    from tools.check_correctness import TABLES, compare
    from wifi_location_data_pipeline_spark.plans.queries import QUERIES

    d = str(tmp_path)
    pd.DataFrame({
        "doc_id": range(40),
        "text": [
            None if i % 5 == 0
            else f"the quick brown fox {i} jumps over the lazy dog number {i}"
                 " many words here to pass limits"
            for i in range(40)
        ],
        "source": ["s"] * 40,
        "n_chars": [80] * 40,
    }).to_parquet(f"{d}/documents.parquet")
    for t in TABLES:
        if t != "documents":
            pd.DataFrame({"x": [1]}).to_parquet(f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    names = (
        "text_token_stats", "text_quality_score", "text_language_id",
        "doc_fingerprint", "quality_stratified_sample", "sequence_packing_plan",
        "rag_chunk_plan", "gopher_rule_filters", "url_domain_mixture",
        "pii_scrub_stats", "dedup_exact", "unigram_logprob_score",
        "paragraph_dedup",
    )
    problems = {}
    for name in names:
        q = QUERIES[name]
        sp = q.spark(spark, d).toPandas()
        du = con.execute(q.oracle()).df()
        p = compare(name, sp, du)
        if p:
            problems[name] = p
    con.close()
    assert not problems, problems
