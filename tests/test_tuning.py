"""Shuffle-sizing arithmetic: the partition count must scale linearly
with input bytes, respect the cores floor, and clamp at both ends."""

from __future__ import annotations

from datalake_project_spark.tuning import (
    DEFAULT_TARGET_PARTITION_BYTES, MAX_PARTITIONS, MIN_PARTITIONS,
    dir_bytes, suggest_shuffle_partitions,
)

GB = 1024 ** 3
TB = 1024 ** 4


def test_scales_linearly_with_input():
    # 100 TB at 128 MiB target -> 819,200 -> clamped to MAX
    assert suggest_shuffle_partitions(100 * TB) == MAX_PARTITIONS
    # 1 TB -> 8192 partitions of 128 MiB
    assert suggest_shuffle_partitions(1 * TB) == 8192
    assert suggest_shuffle_partitions(10 * GB) == 80


def test_small_input_floors():
    assert suggest_shuffle_partitions(0) == MIN_PARTITIONS
    assert suggest_shuffle_partitions(1) == MIN_PARTITIONS


def test_cores_floor_keeps_cluster_busy():
    # r13: the cores floor is capped by data density — it never splits
    # the input below ~4 MiB per task (a 1 GB shuffle on a 4000-core
    # cluster gets 256 tasks, not 4000 near-empty ones), and the byte
    # term ramps the width past the core count once data justifies it
    assert suggest_shuffle_partitions(1 * GB, cluster_cores=4000) == 256
    # plenty of data: the full cores floor binds
    assert suggest_shuffle_partitions(100 * GB, cluster_cores=4000) == 4000
    # and the byte term keeps growing past it
    assert suggest_shuffle_partitions(1024 * GB, cluster_cores=4000) == 8192


def test_custom_target():
    assert suggest_shuffle_partitions(
        1 * GB, target_partition_bytes=64 * 1024 * 1024) == 16


def test_observation_collects_inflight_metrics(spark):
    """df.observe: named metrics computed DURING a job (no second scan)
    — the production pattern for row-count/quality counters on a
    pipeline write. Values must equal a direct aggregate."""
    from pyspark.sql import Observation, functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"))
    obs = Observation("pipeline_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
        F.count(F.when(F.col("g") == 0, 1)).alias("n_g0"))
    # one action drives both the result and the metrics
    out = observed.groupBy("g").count().collect()
    assert len(out) == 7
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["id_sum"] == 499500
    assert got["n_g0"] == len([i for i in range(1000) if i % 7 == 0])


def test_suggest_for_stage_floors_at_cores_and_scales(spark, tmp_path):
    """suggest_for_stage = per-stage repartition width: footprint x
    expansion / 128 MiB, with a density-capped cores floor (never
    below ~4 MiB per task), and it must NOT mutate the session conf."""
    from datalake_project_spark.tuning import suggest_for_stage

    f = tmp_path / "blob.bin"
    f.write_bytes(b"x" * (4 * 1024 * 1024))
    # a directory's footprint is the sum of its files
    assert dir_bytes(str(tmp_path)) == 4 * 1024 * 1024
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    cores = spark.sparkContext.defaultParallelism
    # 4 MiB input: density cap pins the floor at 1 -> MIN_PARTITIONS
    assert suggest_for_stage(spark, str(f)) == 8
    # 4 MiB x 65536 = 256 GiB -> 2048 partitions of 128 MiB
    assert suggest_for_stage(spark, str(f), expansion=65536.0) == 2048
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def test_suggest_stream_state_partitions_no_cores_floor(spark, tmp_path):
    """Streaming state partitions are byte-derived with NO cores floor:
    a fixture-scale input gets the 8-partition minimum (few state-store
    instances, low fixed commit overhead), and the count grows with the
    footprint toward production scale. r12 diagnosis: 128 state-store
    instances spent ~95% of a stream-join's wall in per-instance
    commits over a 40k-row state."""
    from datalake_project_spark.tuning import suggest_stream_state_partitions

    f = tmp_path / "events.bin"
    f.write_bytes(b"x" * (2 * 1024 * 1024))  # ~ sf0.1 events.parquet
    cores = spark.sparkContext.defaultParallelism
    n = suggest_stream_state_partitions(spark, str(f))
    assert n == 8  # min, NOT 2x cores
    assert n < 2 * cores or cores <= 4
    # 2 MiB x 2^20 = 2 TiB, x4 expansion, 64 MiB target -> 131072
    big = suggest_stream_state_partitions(spark, str(f),
                                          expansion=4.0 * (1 << 20))
    assert big == (2 * (1 << 20) * 4) // 64


def test_run_available_now_scopes_state_partitions(spark, tmp_path):
    """run_available_now(state_partitions=N) must freeze N into the
    drain's stateful shuffle and RESTORE the session width afterwards,
    so a later batch query in the same session is unaffected."""
    import pyspark.sql.functions as F

    from datalake_project_spark.streaming.ops import run_available_now

    src = tmp_path / "src"
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"))
    df.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_available_now(agg, "complete", state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    rows = {(r["k"], r["n"]) for r in out.collect()}
    assert rows == {(k, 20) for k in range(5)}


def test_run_available_now_concurrent_drains_each_get_their_width(
        spark, tmp_path):
    """Two drains submitted concurrently with DIFFERENT state_partitions
    must each run at their own width (r12 ADVICE: the session-global
    conf save/restore could interleave across threads; drains now
    serialize the conf window under a module lock), and an unsized
    drain overlapping them must run at the session width, never at a
    sized drain's temporary one. Widths are observed via
    StreamingQueryListener progress (numShufflePartitions of the
    stateful operator)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F
    from pyspark import inheritable_thread_target
    from pyspark.sql.streaming import StreamingQueryListener

    from datalake_project_spark.streaming.ops import run_available_now

    src = tmp_path / "src"
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"))
    df.write.mode("overwrite").parquet(str(src))

    widths: dict[str, set] = {}

    class Rec(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            for so in p.stateOperators:
                widths.setdefault(p.name, set()).add(
                    so.numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    rec = Rec()
    spark.streams.addListener(rec)
    try:
        def drain(n_parts: int | None):
            stream = spark.readStream.schema(df.schema).parquet(str(src))
            agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
            out = run_available_now(agg, "complete",
                                    state_partitions=n_parts)
            return {(r["k"], r["n"]) for r in out.collect()}

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        assert int(saved) not in (3, 5)
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(inheritable_thread_target(drain), n)
                       for n in (3, None, 5)]
            for f in futures:
                assert f.result() == {(k, 20) for k in range(5)}
        assert spark.conf.get("spark.sql.shuffle.partitions") == saved
        # listener events are async: wait for all three queries' progress
        deadline = time.time() + 30
        while time.time() < deadline and len(widths) < 3:
            time.sleep(0.2)
        assert all(len(s) == 1 for s in widths.values()), widths
        assert (sorted(min(s) for s in widths.values())
                == sorted([3, 5, int(saved)])), widths
    finally:
        spark.streams.removeListener(rec)


def test_python_stage_width_keeps_cores_floor(spark, tmp_path):
    """Python-cost stages (grouped-map applyInPandas) are priced by
    rows/groups, not bytes: the width keeps the FULL cores floor even
    for a KB-scale input (no density cap — r13 measured AQE coalescing
    such a shuffle to ONE task that serialized 1500 Python group
    calls), and still ramps with the byte term at scale."""
    from datalake_project_spark.tuning import python_stage_width

    f = tmp_path / "tiny.bin"
    f.write_bytes(b"x" * 1024)
    cores = spark.sparkContext.defaultParallelism
    assert python_stage_width(spark, str(f)) == max(cores, 8)
    # 1 KiB x 2^27 = 128 GiB -> 1024 partitions of 128 MiB > any floor
    assert python_stage_width(spark, str(f), expansion=float(1 << 27)) \
        == 1024
