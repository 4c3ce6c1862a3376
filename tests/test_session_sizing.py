"""Unit tests for the data-sized session knobs and get_spark's
local-master confs.

Both helpers apply the same submitter rule at every scale: size the work
unit to the data, clamp to [floor, ceiling]. The scan-split helper exists
because the 128 MiB cluster default planned ONE scan task for an 18 MiB
local table (and two for the 10x probe's 184 MiB file) — serializing the
fused scan stage on a 32-core host; see session.py docstrings and
tools/scale_probe.py for the measurements.
"""

from __future__ import annotations

import os

from final_project_big_data_spark.session import (
    FILE_SYSTEM_CHECKPOINTS,
    SIZED_SPLITS,
    _largest_table_bytes,
    _local_cores,
    local_conf,
    sized_adaptive_enabled,
    sized_conf,
    sized_max_partition_bytes,
    sized_shuffle_partitions,
)


def _mkparquet(d, name, nbytes):
    # path_bytes reads st_size, so a sparse file sizes a table for free
    with open(os.path.join(d, f"{name}.parquet"), "wb") as f:
        f.truncate(nbytes)


def test_largest_table_bytes_picks_dominant(tmp_path):
    _mkparquet(tmp_path, "small", 1000)
    _mkparquet(tmp_path, "big", 5000)
    (tmp_path / "ignored.csv").write_bytes(b"\0" * 99999)
    assert _largest_table_bytes(str(tmp_path)) == 5000


def test_largest_table_bytes_sums_directory_tables(tmp_path):
    # the same bytes the plan gates see (io.path_bytes): data files only,
    # nested partition directories counted by their leaf files
    d = tmp_path / "parts.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"\0" * 3000)
    (d / "part-1").write_bytes(b"\0" * 4000)
    (d / ".part-0.crc").write_bytes(b"\0" * 500)
    (d / "_SUCCESS").write_bytes(b"\0" * 600)
    (d / "k=v").mkdir()
    (d / "k=v" / "part-2").write_bytes(b"\0" * 2000)
    # an in-flight write's staging directory, which Spark's listing skips
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-9").write_bytes(b"\0" * 700)
    assert _largest_table_bytes(str(tmp_path)) == 9000


def test_largest_table_bytes_missing_dir_is_zero():
    assert _largest_table_bytes("/nonexistent/dir") == 0


def test_shuffle_partitions_scales_with_data(tmp_path):
    _mkparquet(tmp_path, "t", 20 * 1024 * 1024)
    # cores pinned: the ceiling (cores × 4) must sit above 20 on any host
    assert sized_shuffle_partitions(str(tmp_path), cores=8) == 20
    # floor clamp
    _mkparquet(tmp_path, "t", 2 * 1024 * 1024)
    assert sized_shuffle_partitions(str(tmp_path), cores=8) == 8
    # ceiling is tasks-per-core waves, not a large constant: the round-4
    # 4096 cap planned 1841 one-MiB sort tasks at the 100x probe (q06
    # 21.9 s of mostly scheduling; see session.py docstring)
    _mkparquet(tmp_path, "t", 64 << 30)
    assert sized_shuffle_partitions(str(tmp_path)) == _local_cores() * 4
    assert sized_shuffle_partitions(str(tmp_path), cores=8) == 32


def test_max_partition_bytes_targets_data_per_core(tmp_path):
    _mkparquet(tmp_path, "t", 184 * 1024 * 1024)
    # 184 MiB / 32 cores ≈ 5.75 MiB per split — 32-way scan parallelism
    got = sized_max_partition_bytes(str(tmp_path), cores=32)
    assert got == (184 * 1024 * 1024) // 32
    # tiny data floors at 4 MiB (round 6: a scan task does ~3 ms/MiB of
    # decode vs ~1-2 ms launch cost, so 1 MiB splits spent more scheduler
    # than scanner — measured -13% on sort/agg headline shapes at sf0.1)
    _mkparquet(tmp_path, "t", 2 * 1024 * 1024)
    assert sized_max_partition_bytes(str(tmp_path), cores=32) == 4 * 1024 * 1024
    # huge data caps at the 128 MiB cluster default
    _mkparquet(tmp_path, "t", 184 * 1024 * 1024)
    assert (
        sized_max_partition_bytes(str(tmp_path), cores=1)
        == 128 * 1024 * 1024
    )


def test_max_partition_bytes_missing_dir_keeps_cluster_default():
    assert (
        sized_max_partition_bytes("/nonexistent/dir", cores=32)
        == 128 * 1024 * 1024
    )


def _mk_real_parquet(d, name, n_rows, row_group_size):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(d, f"{name}.parquet")
    pq.write_table(
        pa.table({"x": list(range(n_rows))}), p, row_group_size=row_group_size
    )
    return p


def test_row_group_count_real_files(tmp_path):
    from final_project_big_data_spark.session import _row_group_count

    single = _mk_real_parquet(tmp_path, "single", 1000, 1000)
    multi = _mk_real_parquet(tmp_path, "multi", 1000, 100)
    assert _row_group_count(single, cap=32) == 1
    assert _row_group_count(multi, cap=32) == 10
    assert _row_group_count(multi, cap=4) == 4  # early-exit at cap
    # unreadable → cap (fully-splittable fallback, the pre-r7 rule)
    bogus = os.path.join(tmp_path, "bogus.parquet")
    with open(bogus, "wb") as f:
        f.write(b"\0" * 100)
    assert _row_group_count(bogus, cap=32) == 32


def test_max_partition_bytes_single_row_group_gets_one_split(tmp_path):
    # a one-row-group table cannot split: byte-range splits beyond the
    # row-group count schedule empty tasks AND trip RangePartitioner's
    # resample guard (measured q06 0.57 -> 0.45 s; session.py docstring)
    _mk_real_parquet(tmp_path, "t", 50_000, 1_000_000)
    size = _largest_table_bytes(str(tmp_path))
    got = sized_max_partition_bytes(str(tmp_path), cores=32)
    assert got == size + (1 << 20)  # file bytes + margin -> ONE split


def test_max_partition_bytes_row_groups_bound_split_count(tmp_path):
    # 8 row groups on a 32-core host: splits sized to 8 real units, not
    # 32 quarter-row-group byte ranges
    _mk_real_parquet(tmp_path, "t", 80_000, 10_000)
    size = _largest_table_bytes(str(tmp_path))
    got = sized_max_partition_bytes(str(tmp_path), cores=32)
    assert got == max(4 * 1024 * 1024, size // 8)


def test_sized_conf_is_the_three_sized_rules(tmp_path):
    # 20 MiB: AQE gate ON at 4 cores (>= 16 MiB), OFF at 32 (< 128 MiB)
    d = str(tmp_path)
    _mkparquet(d, "t", 20 * 1024 * 1024)
    for cores, aqe in ((4, "true"), (32, "false")):
        assert sized_conf(d, cores=cores) == {
            "spark.sql.shuffle.partitions": str(
                sized_shuffle_partitions(d, cores=cores)
            ),
            SIZED_SPLITS: str(sized_max_partition_bytes(d, cores=cores)),
            "spark.sql.adaptive.enabled": str(
                sized_adaptive_enabled(d, cores=cores)
            ).lower(),
        }
        assert sized_conf(d, cores=cores)["spark.sql.adaptive.enabled"] == aqe
    assert local_conf("local[4]", sized_conf(d))[
        "spark.sql.files.minPartitionNum"
    ] == "1"


def test_codegen_cache_sized_for_multi_query_workloads(spark):
    """Round-9 regression pin: the whole-stage-codegen class cache must
    stay raised (default 100 entries thrashes when a dozen distinct
    queries cycle — recompilation inside measured/hot executions,
    eviction-order-dependent; SCALE.md round 9 measured the 11-query
    headline set 74% slower under the default)."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1024


def test_local_conf_pins_splits_only_for_sized_sessions():
    assert "spark.sql.files.minPartitionNum" not in local_conf("local[4]")
    sized = local_conf("local[4]", {SIZED_SPLITS: str(8 << 20)})
    assert sized["spark.sql.files.minPartitionNum"] == "1"


def test_local_conf_checkpoint_manager_is_local_only(spark):
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert local_conf("local[4]")[key] == FILE_SYSTEM_CHECKPOINTS
    # rename is atomic on a local disk, not on an object store
    assert local_conf("local-cluster[2,1,1024]", {SIZED_SPLITS: "1"}) == {}
    assert spark.conf.get(key) == FILE_SYSTEM_CHECKPOINTS


def test_unsized_session_spreads_small_files_across_cores(spark, tmp_path):
    # a stream micro-batch's shape: a handful of small JSON files
    for i in range(8):
        (tmp_path / f"part-{i}.json").write_text(
            "".join(f'{{"x": {i * 100 + j}}}\n' for j in range(100))
        )
    df = spark.read.schema("x long").json(str(tmp_path))
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 800


def test_sized_session_reads_one_row_group_as_one_split(spark, tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # above the 4 MiB open cost, so cores alone would split it
    path = str(tmp_path / "t.parquet")
    x = np.random.default_rng(0).integers(0, 1 << 62, 700_000)
    pq.write_table(pa.table({"x": x}), path, row_group_size=1 << 20,
                   compression="none")
    assert os.path.getsize(path) > 4 << 20
    assert spark.read.parquet(path).rdd.getNumPartitions() > 1
    extra = sized_conf(str(tmp_path), cores=4)
    sized = spark.newSession()
    for k, v in (local_conf("local[4]", extra) | extra).items():
        if k.startswith("spark.sql.files."):
            sized.conf.set(k, v)
    assert sized.read.parquet(path).rdd.getNumPartitions() == 1
