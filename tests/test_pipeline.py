"""End-to-end medallion pipeline test (FIXTURES.md §A): two snapshots per
account with controlled overlap; assert the diff table is exactly
{added, deleted}, aggregate provenance, idempotent partition overwrite,
and latest-snapshot resolution."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datalake_project_spark.lake import Lake
from datalake_project_spark.pipeline import run_pipeline
from datalake_project_spark.sources.json_ingest import (
    ingest_records, normalize_payload, read_json_files)
from tests.conftest import rows

LOOKUP = [("alice", "female"), ("bob", "male"), ("carol", "mostly_female")]


def _payload(users):
    return [{"username": u, "full_name": f"{u.title()} Doe", "extra": 1}
            for u in users]


@pytest.fixture()
def lake(spark, tmp_path):
    return Lake(spark, str(tmp_path / "lake"))


def _lookup_df(spark):
    return spark.createDataFrame(LOOKUP, "first_name string, gender string")


def test_two_snapshot_run_produces_exact_diff(spark, lake):
    t0_users = ["alice", "bob", "carol", "dora"]
    t1_users = ["bob", "carol", "eve", "fred"]   # -alice -dora +eve +fred

    run_pipeline(spark, lake, {"acct1": _payload(t0_users)},
                 _lookup_df(spark), "20250301", "1000")
    run_pipeline(spark, lake, {"acct1": _payload(t1_users)},
                 _lookup_df(spark), "20250301", "1100")

    diff = lake.read_usage("comparatif_apify_instagram_data_acct1",
                           "20250301", "1100")
    got = {(r["username"], r["change"]) for r in diff.collect()}
    assert got == {("eve", "added"), ("fred", "added"),
                   ("alice", "deleted"), ("dora", "deleted")}


def test_first_run_has_no_diff_table(spark, lake):
    run_pipeline(spark, lake, {"acct1": _payload(["alice"])},
                 _lookup_df(spark), "20250301", "1000")
    assert not lake.exists("comparatif_apify_instagram_data_acct1")


def test_aggregate_provenance_and_enrichment(spark, lake):
    out = run_pipeline(
        spark, lake,
        {"a1": _payload(["alice", "zed"]), "a2": _payload(["bob"])},
        _lookup_df(spark), "20250301", "1000")
    agg = out["final_aggregated"]
    by_user = {r["username"]: r for r in agg.collect()}
    assert by_user["alice"]["username_scraped"] == "a1"
    assert by_user["bob"]["username_scraped"] == "a2"
    assert by_user["alice"]["predicted_gender"] == "female"
    assert abs(by_user["alice"]["confidence"] - 0.9) < 1e-6
    assert by_user["zed"]["predicted_gender"] == "unknown"


def test_rerun_same_partition_is_idempotent(spark, lake):
    for _ in range(2):  # same (date, run_ts) twice -> dynamic overwrite
        run_pipeline(spark, lake, {"acct1": _payload(["alice", "bob"])},
                     _lookup_df(spark), "20250301", "1000")
    usage = lake.read_usage("apify_instagram_data_acct1", "20250301", "1000")
    assert usage.count() == 2


def test_latest_run_resolution_across_runs(spark, lake):
    for ts in ["0900", "1000", "1100"]:
        run_pipeline(spark, lake, {"acct1": _payload(["alice"])},
                     _lookup_df(spark), "20250301", ts)
    t = "apify_instagram_data_acct1"
    assert lake.latest_run_before(t, "20250301", "1100") == "1000"
    assert lake.latest_run_before(t, "20250301", "1030") == "1000"
    assert lake.latest_run_before(t, "20250301", "0900") is None


def test_global_diff(spark, lake):
    old = ingest_records(spark, _payload(["alice", "gone"]))
    out = run_pipeline(spark, lake, {"acct1": _payload(["alice", "new"])},
                       _lookup_df(spark), "20250301", "1000",
                       old_snapshot=old)
    got = {(r["username"], r["change"])
           for r in out["final_global_comparatif"].collect()}
    assert got == {("new", "added_global"), ("gone", "deleted_global")}


# --- payload-shape handling (reference S2) --------------------------------

def test_normalize_payload_shapes():
    recs = [{"username": "a", "full_name": "A"}]
    assert normalize_payload(recs) == recs
    assert normalize_payload({"items": recs}) == recs
    assert normalize_payload({"username": "a"}) == [{"username": "a"}]
    with pytest.raises(TypeError):
        normalize_payload("not a payload")


def test_ingest_missing_and_extra_keys(spark):
    df = ingest_records(spark, [{"username": "a", "junk": 9}, {"full_name": "B X"}])
    assert rows(df) == [(None, "B X"), ("a", None)]


def test_read_json_files_with_corrupt_records(spark, tmp_path):
    good = tmp_path / "good.json"
    good.write_text('[{"username": "a", "full_name": "A"}, {"username": "b"}]')
    bad = tmp_path / "bad.json"
    bad.write_text('{"username": "c", ')
    # Spark refuses predicates that reference ONLY _corrupt_record on a raw
    # scan; materialize rows first (callers would .cache() before triage).
    got = read_json_files(spark, str(tmp_path)).collect()
    ok = [r for r in got if r["_corrupt_record"] is None]
    corrupt = [r for r in got if r["_corrupt_record"] is not None]
    assert {r["username"] for r in ok} == {"a", "b"}
    assert len(corrupt) == 1


def test_jdbc_option_assembly_and_sanitization():
    from datalake_project_spark.sources.mirrors import JdbcConfig, sanitize_table_name
    assert sanitize_table_name("acct-name.x") == "acct_name_x"
    assert sanitize_table_name("9lives") == "t_9lives"
    cfg = JdbcConfig(url="jdbc:postgresql://h:5432/db", user="u", password="p")
    opts = cfg.options("final-aggregated")
    assert opts["dbtable"] == "final_aggregated"
    assert opts["driver"] == "org.postgresql.Driver"


def test_es_option_assembly():
    from datalake_project_spark.sources.mirrors import EsConfig
    opts = EsConfig().options("final_aggregated_index", "username")
    assert opts["es.resource"] == "final_aggregated_index"
    assert opts["es.mapping.id"] == "username"


def test_lake_write_does_not_mutate_session_conf(spark, tmp_path):
    """Constructing/using a Lake must not silently flip
    partitionOverwriteMode for the caller's own unrelated writes
    (round-2 advice): the conf is scoped save/restore around the write."""
    from datalake_project_spark.lake import Lake

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        lake = Lake(spark, str(tmp_path / "lake"))
        df = spark.range(5).withColumnRenamed("id", "k")
        lake.write_usage(df, "t", "2024-01-01", "20240101T000000")
        assert spark.conf.get(key).lower() == "static"
        # and the write itself still used dynamic semantics: a second
        # write of a DIFFERENT partition must not truncate the first
        lake.write_usage(df, "t", "2024-01-02", "20240102T000000")
        assert lake.read_usage("t").count() == 10
    finally:
        spark.conf.unset(key)


def test_run_pipeline_on_static_session_keeps_earlier_partitions(spark, lake):
    """Three accounts written from a thread pool on a session left at
    STATIC overwrite: the conf stays STATIC, and each run replaces only
    its own (ingest_date, run_ts) partition of every account table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        accounts = ["a1", "a2", "a3"]
        for ts, users in (("1000", ["alice", "bob"]),
                          ("1100", ["bob", "carol", "dora"])):
            run_pipeline(spark, lake,
                         {a: _payload(users) for a in accounts},
                         _lookup_df(spark), "20250301", ts)
            assert spark.conf.get(key).lower() == "static"
        for a in accounts:
            usage = lake.read_usage(f"apify_instagram_data_{a}", "20250301")
            got = {(str(r["run_ts"]), r["n"]) for r in
                   usage.groupBy("run_ts").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
            assert got == {("1000", 2), ("1100", 3)}, a
    finally:
        spark.conf.unset(key)
