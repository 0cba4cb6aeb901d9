"""Spill-aware shuffle sizing.

``spark.sql.shuffle.partitions`` is the one knob that silently breaks at
scale: the session default that works at sf0.1 gives multi-GB partitions
at 100 TB (spill, OOM), while a 100 TB-sized default gives thousands of
empty tasks on small inputs. AQE's coalescing fixes the too-many side at
runtime but cannot SPLIT a too-large partition of a non-skewed shuffle —
the initial number must be at least input_bytes / target_partition_bytes.

These helpers derive that number from the actual input footprint (file
sizes on disk) and clamp it to sane bounds; the caller hands it to a
per-stage keyed ``repartition``, or to one streaming drain's state width
(``streaming.ops.run_available_now``, which scopes the session conf to
that drain). They are advisory arithmetic, not magic:
the unit test pins the arithmetic, and the engine's session factory
keeps its local default for fixture-scale work.
"""

from __future__ import annotations

import os

DEFAULT_TARGET_PARTITION_BYTES = 128 * 1024 * 1024  # the shuffle-spill sweet spot
MIN_PARTITIONS = 8
MAX_PARTITIONS = 200_000  # ~24 TB of 128 MiB partitions per shuffle stage
# The cores floor stops binding below this per-partition payload: a task
# carrying less than ~4 MiB is dominated by its own fixed cost, so
# spreading it wider than the data makes the stage SLOWER (r13 paired
# A/B at sf0.1/32 cores: q_dedup_prefix_filter 6.6 -> 4.6 s,
# q_dedup_ngram_jaccard 1.8 -> 1.3 s from capping the floor alone).
SMALL_PARTITION_BYTES = 4 * 1024 * 1024


def suggest_shuffle_partitions(
        input_bytes: int,
        target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
        cluster_cores: int | None = None,
        min_partitions: int = MIN_PARTITIONS,
        max_partitions: int = MAX_PARTITIONS) -> int:
    """Initial shuffle-partition count for an input of ``input_bytes``.

    ceil(input / target), floored at the cluster's core count (one full
    wave of tasks even on small shuffles) and clamped to [min, max].
    AQE then coalesces downward at runtime; it never needs to split
    upward because the starting count is already fine-grained enough.

    r13 note on the floor: this was a flat 2x cores ("the standard
    sizing rule" — slack for stragglers). Parallelism only pays while
    partitions carry real data; past that point every extra task is
    pure fixed cost. The floor is therefore capped by data density —
    it never splits the input below ~SMALL_PARTITION_BYTES per task —
    and the byte term ceil(input/target) ramps the width past the core
    count smoothly as soon as the footprint justifies it. Measured at
    sf0.1/32 cores (paired in-session A/B, steal-clean trials,
    cumulative over both steps): q_dedup_prefix_filter 9.9 -> 4.6 s,
    q_dedup_ngram_jaccard 2.9 -> 1.3 s, q_dedup_bag_jaccard 3.5 ->
    2.5 s, q_dedup_idf_weighted_jaccard 3.9 -> 2.5 s; at production
    scale the byte term dominates and the floor is dead code.
    """
    if input_bytes < 0:
        raise ValueError("input_bytes must be >= 0")
    need = -(-input_bytes // target_partition_bytes)  # ceil div
    if cluster_cores:
        floor = min(cluster_cores,
                    -(-input_bytes // SMALL_PARTITION_BYTES))
        need = max(need, floor)
    return int(min(max(need, min_partitions), max_partitions))


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (a file is its own size).

    For parquet this is the compressed on-disk footprint — the right
    input to shuffle sizing when the shuffle carries roughly the scanned
    columns; multiply by an expansion factor for wide decompression.
    """
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def _parse_size_bytes(v: str) -> int:
    """'134217728' / '128m' / '128MB' -> bytes (Spark conf size forms)."""
    s = v.strip().lower().removesuffix("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def scan_fan_out_width(df) -> int | None:
    """Width to spread a CPU-heavy per-row pass over, or None when the
    source scan already parallelizes.

    Guide §2.5 input-skew case: a fixture-scale parquet arrives as ONE
    input split (file bytes < maxPartitionBytes), so everything until
    the first exchange — tokenize/shingle/span/hash passes, the most
    CPU-expensive per-row work in the text and dedup families — runs on
    a single core (r12 profiles: 1-task stages of 2-4 s inside 3-6 s
    queries). At production scale the scan has >> cores splits and this
    returns None, so no extra exchange of the text payload is ever
    introduced; when the fan-out does fire, the shuffled bytes are at
    most cores x maxPartitionBytes.

    Width: one wave of core-count tasks, stretched toward 2x cores only
    when the footprint carries at least ~1 MiB per extra partition. The
    r12 flat 2x-cores width over-partitioned KB-scale fixtures — 64
    near-empty tasks at 32 cores made q_dedup_ngram_jaccard FASTER at 8
    cores than 32 (PERF_r12 scaling ratio 0.65); per-task fixed cost
    dominates until partitions carry real data, and the 2x balance
    cushion only pays once they do."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    mpb = _parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    splits = 0
    total_bytes = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.exists(p):
            return None  # non-local source: trust its split planning
        sz = os.path.getsize(p)
        total_bytes += sz
        splits += max(1, -(-sz // mpb))
    if splits >= cores:
        return None
    return max(cores, min(2 * cores, -(-total_bytes // (1 << 20))))


def fan_out_scan(df, key: str):
    """``df`` hash-repartitioned on ``key`` to the fan-out width when the
    backing scan undershoots the cluster's parallelism; ``df`` unchanged
    otherwise (see ``scan_fan_out_width``). Apply BEFORE CPU-heavy
    per-row expressions so they run post-exchange."""
    w = scan_fan_out_width(df)
    if w is None:
        return df
    from pyspark.sql import functions as F
    return df.repartition(w, F.col(key))


def python_stage_width(spark, *paths: str, expansion: float = 1.0,
                       **kwargs) -> int:
    """Exchange width for a stage whose per-row/per-group cost is PYTHON
    (grouped-map applyInPandas and friends), handed to an explicit keyed
    ``repartition`` right before the groupBy.

    Two ways the byte-based machinery misprices these stages: (a) the
    density-capped cores floor (suggest_shuffle_partitions) assumes a
    task under ~4 MiB is fixed-cost-dominated — false when every row
    crosses the Arrow boundary and every group is a Python call; (b)
    AQE's coalescing is also byte-based, so a KB-scale grouped-map
    shuffle coalesces to ONE post-shuffle partition and serializes
    every group's Python call in a single task (r13 measured
    q_group_zscore: a 1-task stage, 3.9 s wall / 0.2 s JVM cpu — the
    rest is one Python worker grinding 1500 groups). The explicit
    repartition pins one full wave of workers; the byte term still
    ramps the width past the core count at scale."""
    total = int(sum(dir_bytes(p) for p in paths) * expansion)
    cores = spark.sparkContext.defaultParallelism
    need = suggest_shuffle_partitions(total, **kwargs)
    return max(need, cores)


def suggest_stream_state_partitions(spark, *paths: str,
                                    expansion: float = 4.0,
                                    target_partition_bytes: int = 64 << 20,
                                    min_partitions: int = 8,
                                    max_partitions: int = MAX_PARTITIONS) -> int:
    """Streaming state-store partition count from the input footprint.

    The stateful-shuffle partition count is ALSO the number of state-
    store instances (x2-4 per stateful operator: a symmetric hash join
    keeps 4 stores per partition), and every instance pays fixed
    per-micro-batch commit overhead regardless of how little state it
    holds. The r12 diagnosis measured a 32-partition (128-instance)
    stream-stream interval join spending ~95% of its wall in state
    commits over a 40k-row state (sum commitTimeMs ~500 s, wall ~9 s);
    the same drain at 8 partitions committed in 8.5 s total and ran in
    3.7 s. So, unlike batch exchanges, there is NO cores floor here: a
    bounded backfill with tiny state wants FEW instances, while at
    production scale the byte-derived count exceeds any cluster's core
    count long before per-partition state reaches the target
    (``expansion`` ~ state-bytes / compressed-input-bytes). The
    partition count is frozen into a checkpoint at first start; that
    caveat doesn't bind availableNow drains (ephemeral checkpoints) —
    a continuous 24/7 deployment should size from projected PEAK state
    and keep that number for the checkpoint's life.
    """
    total = int(sum(dir_bytes(p) for p in paths) * expansion)
    return suggest_shuffle_partitions(
        total, target_partition_bytes=target_partition_bytes,
        min_partitions=min_partitions, max_partitions=max_partitions)


def suggest_for_stage(spark, *paths: str, expansion: float = 1.0,
                      **kwargs) -> int:
    """Per-STAGE partition count for one heavy exchange, derived from the
    on-disk footprint of the inputs that stage fans out from.

    This mutates nothing: the caller hands the number to a keyed
    ``repartition`` in front of its widest exchange, so one query's
    working set cannot depend on whatever the session default happens
    to be (the r6 scale ladder measured q_graph_kcore spilling 6.7 GB
    at 10x and 20.4 GB at 30x purely because the wedge-dedup hash
    tables were squeezed into 32 static partitions). ``expansion`` is the measured working-set/input ratio
    of the stage (a wedge join or pair explosion makes it >> 1); the
    cores floor keeps small fixtures fully parallel (one task wave —
    see the r13 floor note on suggest_shuffle_partitions)."""
    total = int(sum(dir_bytes(p) for p in paths) * expansion)
    cores = spark.sparkContext.defaultParallelism
    return suggest_shuffle_partitions(total, cluster_cores=cores, **kwargs)
