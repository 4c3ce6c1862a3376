"""SparkSession factory with deterministic, scale-aware defaults.

Replaces the reference's per-script ad-hoc session configs
(``tasks/scripts/producer.py:14-19`` pins ``spark.sql.adaptive.enabled=false``
and ``spark.cores.max=8``; each ``tasks/exes/*.sh`` re-pins ports/timeouts).
Here a single factory pins semantics-relevant settings (UTC timezone, AQE
**on**, Arrow on) and leaves cluster sizing to the submitter — scale-out is
config-only, no code change.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from final_project_big_data_spark.io import data_files, path_bytes

DEFAULT_APP_NAME = "final_project_big_data_spark"
# The sized_* rules' constants. ADVISORY_BYTES is also the AQE coalesce
# target on a local master.
ADVISORY_BYTES = 1 << 20  # shuffle bytes per partition
TASKS_PER_CORE = 4  # shuffle-partition ceiling, in task waves
SHUFFLE_FLOOR = 8  # fewest shuffle partitions
SPLIT_FLOOR = 4 * 1024 * 1024  # smallest scan split
SPLIT_CEILING = 128 * 1024 * 1024  # largest scan split (Spark's default)
HEAP_FLOOR_GB = 8
HEAP_CEILING_GB = 64
HEAP_PER_INPUT_BYTE = 3  # driver heap per byte of the largest table


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers (``--py-files``
    posture, done programmatically so it works under ANY session, including
    the verification driver's).

    cloudpickle serializes closures that reference module-level helpers *by
    module reference*; workers must therefore be able to import
    ``final_project_big_data_spark``. On a cluster that's
    ``spark-submit --py-files engine.zip``; here the engine zips itself once
    per process and registers that zip via ``sc.addPyFile`` once per
    SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_fpbd_pkg_shipped", False):
        return
    if not os.path.exists(_package_zip()):  # removed by a temp-dir cleaner
        _package_zip.cache_clear()
    sc.addPyFile(_package_zip())
    sc._fpbd_pkg_shipped = True


@functools.cache
def _package_zip() -> str:
    """Zip of this package in the temp dir, built once per process."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return shutil.make_archive(
        os.path.join(tempfile.gettempdir(), f"fpbd_pkg_{os.getpid()}"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir="final_project_big_data_spark",
    )


def is_local_master(master: str) -> bool:
    """True for single-JVM masters (``local``, ``local[N]``, ``local[*]``).
    ``local-cluster[n,c,m]`` is NOT local: its executors are separate
    JVMs that fetch shuffle blocks over netty, like any cluster."""
    return master.startswith("local") and not master.startswith("local-cluster")


def _local_cores() -> int:
    """Executor-thread count for this host: SPARK_GRAFT_CPUS, else the
    scheduler-visible CPU set (sees cgroup/taskset limits), else
    cpu_count."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        try:
            return len(os.sched_getaffinity(0))
        except (AttributeError, OSError):
            return os.cpu_count() or 32


def sized_shuffle_partitions(sf_dir: str, cores: int | None = None) -> int:
    """Initial shuffle-partition count: largest-table bytes /
    ``ADVISORY_BYTES``, clamped to [``SHUFFLE_FLOOR``,
    cores × ``TASKS_PER_CORE``].

    AQE can only merge partitions, never split beyond the initial number,
    and even merged-away tasks were planned: a cores-sized count spends
    ~30% of the sf0.1 headline scheduling near-empty tasks. The ceiling is
    task waves, not a large constant: past ~4 waves every partition is
    scheduling overhead (the 100× probe planned 1841 one-MiB sort tasks
    under a 4096 cap; SCALE.md "Round-5 posture changes"). ``cores`` is
    the total executor core count; a cluster submitter must pass it, the
    default sees only this host.
    """
    biggest = _largest_table_bytes(sf_dir)
    if biggest == 0:
        return 32
    if cores is None:
        cores = _local_cores()
    ceiling = max(SHUFFLE_FLOOR, cores * TASKS_PER_CORE)
    return max(SHUFFLE_FLOOR, min(ceiling, biggest // ADVISORY_BYTES))


def sized_adaptive_enabled(sf_dir: str, cores: int | None = None) -> bool:
    """AQE on iff the largest table reaches cores × ``TASKS_PER_CORE`` ×
    ``ADVISORY_BYTES``, where ``sized_shuffle_partitions`` hits its
    ceiling.

    AQE runs each exchange as a blocking query stage, one scheduler job
    per shuffle. Below the ceiling the static sizing has already planned
    every shuffle as right-sized waves, so each barrier is a paid job with
    nothing left to decide: the 11 headline queries ran 4-7 jobs each with
    AQE on against 1-4 off, -0.29 s in total at sf0.1 (SCALE.md "Round-6
    posture changes"). The 10× and larger probes stay on, where skew
    handling is load-bearing.
    """
    if cores is None:
        cores = _local_cores()
    return _largest_table_bytes(sf_dir) >= cores * TASKS_PER_CORE * ADVISORY_BYTES


def _largest_table(sf_dir: str) -> tuple[int, str | None]:
    """(bytes, path) of the largest ``*.parquet`` table (file or dir),
    sized by ``io.path_bytes``."""
    try:
        names = os.listdir(sf_dir)
    except OSError:
        return 0, None
    biggest, biggest_path = 0, None
    for name in names:
        if name.endswith(".parquet"):
            p = os.path.join(sf_dir, name)
            size = path_bytes(p)
            if size > biggest:
                biggest, biggest_path = size, p
    return biggest, biggest_path


def _largest_table_bytes(sf_dir: str) -> int:
    """On-disk bytes of the largest ``*.parquet`` table (file or dir)."""
    return _largest_table(sf_dir)[0]


def _row_group_count(path: str, cap: int) -> int:
    """Parquet row groups over a table's ``io.data_files``, from footers
    only; stops at ``cap``, since callers only compare it with the core
    count. Unreadable → ``cap`` (assume fully splittable)."""
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in data_files(path):
            total += pq.ParquetFile(f).num_row_groups
            if total >= cap:
                return cap
        return max(1, total)
    except Exception:  # noqa: BLE001 — footer unreadable / no pyarrow
        return cap


def sized_max_partition_bytes(sf_dir: str, cores: int | None = None) -> int:
    """Scan-split size (``spark.sql.files.maxPartitionBytes``): the
    largest table's bytes over ``min(cores, row groups)`` units, clamped
    to [``SPLIT_FLOOR``, ``SPLIT_CEILING``].

    The 128 MiB default plans one scan task for an 18 MiB sf0.1 table,
    serializing decode and the fused stage above it (SCALE.md "Round-4
    posture changes"). The 4 MiB floor is a break-even: a scan task
    decodes ~3 ms/MiB and costs ~1-2 ms to launch (SCALE.md "Round-6
    posture changes").

    Splits are counted in row groups because parquet gives each row group
    to the one split holding its midpoint: a one-row-group file split k
    ways yields one loaded task and k-1 empty ones, and the empty ones
    trip ``RangePartitioner``'s resample guard (always for k ≥ 4), a
    serial 1-task job per range exchange. So a one-row-group table gets
    one split. That needs ``spark.sql.files.minPartitionNum=1``, which
    ``local_conf`` sets whenever ``extra_conf`` carries this value.
    """
    if cores is None:
        cores = _local_cores()
    biggest, path = _largest_table(sf_dir)
    if biggest == 0 or path is None:
        return SPLIT_CEILING
    units = max(1, min(max(cores, 1), _row_group_count(path, max(cores, 1))))
    if units == 1:
        # one real row group: one split. +1 MiB so footer/padding bytes
        # never tip a second (empty) split; still capped at the ceiling.
        return min(SPLIT_CEILING, biggest + (1 << 20))
    return max(SPLIT_FLOOR, min(SPLIT_CEILING, biggest // units))


def sized_driver_memory(sf_dir: str) -> str:
    """Local-mode JVM heap (``spark.driver.memory``):
    ``HEAP_PER_INPUT_BYTE`` × largest-table bytes, clamped to
    [``HEAP_FLOOR_GB``, ``HEAP_CEILING_GB``] GiB.

    In local mode the driver JVM is every executor, so 3× covers
    decompressed columns plus shuffle and sort buffers for a fact-vs-fact
    join; a fixed 8 GiB heap OOMed the 1000× sweep (SCALE.md "Round-6
    posture changes", item 6). Only callers that launch the JVM (sweeps,
    probes, bench) apply it: the setting is inert once the JVM exists.
    """
    gb = (_largest_table_bytes(sf_dir) * HEAP_PER_INPUT_BYTE) >> 30
    return f"{min(HEAP_CEILING_GB, max(HEAP_FLOOR_GB, gb))}g"


SIZED_SPLITS = "spark.sql.files.maxPartitionBytes"


def sized_conf(data_dir: str, cores: int | None = None) -> dict[str, str]:
    """The data-sized half of a session, as ``get_spark`` ``extra_conf``:
    shuffle partitions, scan splits and the AQE gate, each from its
    ``sized_*`` rule. ``cores`` is the total executor core count; a
    cluster submitter must pass it, the default sees only this host."""
    return {
        "spark.sql.shuffle.partitions": str(
            sized_shuffle_partitions(data_dir, cores=cores)
        ),
        SIZED_SPLITS: str(sized_max_partition_bytes(data_dir, cores=cores)),
        "spark.sql.adaptive.enabled": str(
            sized_adaptive_enabled(data_dir, cores=cores)
        ).lower(),
    }


FILE_SYSTEM_CHECKPOINTS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def local_conf(
    master: str, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The confs ``get_spark`` adds for a single-JVM master, before the
    caller's ``extra_conf`` (which still overrides each of them). Empty
    for any other master, ``local-cluster`` included: a cluster submitter
    inherits Spark's defaults."""
    if not is_local_master(master):
        return {}
    conf = {
        # Shuffle blocks live in page cache or tmpfs, so codec CPU is pure
        # overhead. On a cluster shuffle crosses the network: keep lz4.
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        # Prefer shuffled-hash over sort-merge locally: with data-sized
        # shuffle partitions every build side fits task memory, and
        # skipping both sorts is a measured win (10x probe: q14 -13%, q92
        # -25%; sf0.1 q14 -23%). Left at the SMJ default off local
        # masters: at cluster scale SMJ's graceful sort-spill beats an
        # OOM-prone giant hash build, and AQE's skew-split serves both.
        "spark.sql.join.preferSortMergeJoin": "false",
        # AQE coalesce target. Spark's 64 MiB assumes cluster-scale inputs:
        # at sf0.1 (~10 MiB tables) it coalesces every shuffle to 1-5
        # partitions and idles the other cores.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(ADVISORY_BYTES),
        # Buffer-knob lesson (round 6, kept as a negative result): 1 MiB
        # shuffle write buffers, 10M-row window/SMJ in-memory thresholds,
        # and reduced range-sampling were each within run-to-run noise
        # (±2%) once A/B'd in FRESH processes. The write buffers are also
        # a scale hazard: the bypass-merge writer opens one buffer per
        # reduce partition, so at the 100x probe (128 partitions x 32
        # tasks x 1 MiB) they OOM'd an 8 GiB heap. Only knobs that survive
        # fresh-process A/B at more than noise belong here.
        # Streaming checkpoint logs (offsets, commits, source and sink
        # metadata) through the Hadoop FileSystem API. Spark's default
        # goes through FileContext, which without native libhadoop shells
        # out to readlink and chmod on every atomic write: ~29 ms a write
        # against ~7 ms on a 4-core host, four writes per micro-batch.
        # Local-only because this manager's temp-file-then-rename commit
        # is atomic on a local disk but not on an object store.
        "spark.sql.streaming.checkpointFileManagerClass": FILE_SYSTEM_CHECKPOINTS,
    }
    if extra_conf and SIZED_SPLITS in extra_conf:
        # A caller that sizes scan splits (sized_conf) lets them OWN the
        # split count: the default minPartitionNum
        # (= defaultParallelism) re-splits any scan into >= cores byte
        # ranges, even a one-row-group file, whose extra splits are empty
        # and trip RangePartitioner's resample guard. Unsized sessions
        # keep the default, so a small scan (a stream's micro-batch, a
        # training read) still spreads across every core.
        conf["spark.sql.files.minPartitionNum"] = "1"
    return conf


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned defaults.

    Semantics-critical pins (required for oracle parity and determinism):
    - ``spark.sql.session.timeZone=UTC``  — testdata timestamps are tz-naive
      UTC; DuckDB oracle timestamps are UTC-naive.
    - AQE on (coalesce partitions + skew-join) — deliberately diverging from
      the reference, which disabled AQE only because its producer job wrote
      one row per Spark job (``tasks/scripts/producer.py:17``).
    - Arrow on for pandas interchange (vectorized pandas UDF path).

    Data sizing is the caller's: ``extra_conf=sized_conf(data_dir)`` sizes
    shuffle partitions, scan splits and AQE to the input, so the same code
    runs on ``local[4]`` and a 1000-executor cluster.
    - ``master``  — default ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``.
    - ``shuffle_partitions``  — default = this host's cores; on a real
      cluster AQE coalesces from a higher initial number anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = _local_cores()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the advisory size (local_conf) when coalescing instead of
        # keeping partition count pinned at max parallelism: small shuffles
        # collapse to few right-sized tasks (scheduling overhead off the
        # critical path); large shuffles still fan out because
        # bytes/advisory > cores
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # autoBroadcastJoinThreshold stays at Spark's 10 MiB default — a
        # raised threshold is a SCALE HAZARD, not a tuning win: size
        # estimates for filtered facts are optimistic ratio guesses, and at
        # 10x bench volume a 64 MiB threshold auto-broadcast a 3.4M-row
        # filtered lineitem (single-threaded hash-relation build: q14 2.4 s
        # -> 1.0 s on reverting; tools/scale_probe.py). Known-small dims use
        # explicit broadcast() hints (threshold-independent) and AQE still
        # upgrades shuffle joins whose RUNTIME size is small.
        # whole-stage-codegen class cache (STATIC conf, default 100
        # entries). A 100-entry LRU is sized for one query at a time; a
        # workload that cycles a dozen distinct queries — this engine's
        # registry, the bench harness, any real multi-query service —
        # thrashes it and re-runs janino compilation inside every
        # execution. Found in round 9 chasing VERDICT r8's "unexplained
        # 1.30×→1.69× drift": with the default cache, interleaving the 11
        # headline queries inflated their steady-state minima 40-150%
        # (d03 0.31 s → 0.79 s, q22 0.15 → 0.32; total 2.25 → 3.92 s at
        # sf0.1) and made per-round numbers depend on *eviction order* —
        # run-to-run noise by construction. 4096 entries ≈ a few hundred
        # MB of driver class metadata at worst, nothing at 100 TB scale.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Bound dead-shuffle retention (round 10). Spark deletes a finished
        # query's shuffle files only when the JVM garbage-collects its
        # ShuffleDependency (ContextCleaner) — and a large, pressure-free
        # heap can defer that full GC for hours. Measured in the round-10
        # single-pass 1000× sweep: 180 queries in one session accumulated
        # 45 GB of dead shuffle files before q95's own spill hit "No space
        # left on device". Where the local dir is tmpfs (the /dev/shm
        # default below, unless SPARK_LOCAL_DIRS points elsewhere), dead
        # shuffle blocks occupy RAM.
        # 5min (default 30min) bounds retention to the GC cadence for any
        # long-lived multi-query session; a forced full GC costs ~100 ms,
        # invisible next to any real query and outside the bench's
        # min-of-N readings.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # testdata events.ts is parquet timestamp[ns]; Spark 4 rejects NANOS
        # unless read as raw long (io.load_table converts to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in local_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    # Spark lets an exported SPARK_LOCAL_DIRS override this conf, and then
    # shuffles land wherever that points, usually on disk.
    if is_local_master(master) and os.path.isdir("/dev/shm"):
        shm = os.path.join("/dev/shm", f"spark-local-{os.getuid()}")
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
