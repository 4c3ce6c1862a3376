"""Builders are contractually LAZY: constructing any registered query's
DataFrame must trigger zero Spark jobs — actions belong to the caller
(driver/bench/test), never the plan construction. An eager action in a
builder serializes a full scan before the query starts; at 100 TB that's
minutes of wall-clock hidden inside what should be pure plan assembly.

Enforced with a job group: every job submitted while a builder runs lands
in the "build-sweep" group, and the sweep asserts that group stays empty.

Declared exceptions (the assertion allowlist): a03/a04's sampling
invariants are *defined* as driver-side count comparisons (complete /
disjoint / ratio facets) — the counts ARE the query semantics, documented
in VERDICT r2 §wrong.4 as acceptable. m01's RF training is an iterative
ML action by nature.
"""

from __future__ import annotations

import pytest

from final_project_big_data_spark.queries import all_specs

# builders whose *semantics* are driver-side actions — everything else
# must be pure plan construction:
#  - a03/a04/a07/a08: sampling invariants are DEFINED as driver-side count
#    comparisons (complete/disjoint/ratio facets) — the counts ARE the
#    query semantics (accepted in VERDICT r2 §wrong.4)
#  - m01: RF training is an iterative ML action by nature
#  - d07/x07: iterative convergence loops (label propagation, large-star/
#    small-star) — each round needs a count/checkpoint action; the loop
#    cannot be expressed as one lazy plan (accepted in VERDICT r2 §wrong.5)
EAGER_BY_CONTRACT = {
    "a03_stratified_sample",
    "a04_random_split",
    "a07_reservoir_sample",
    "a08_weighted_sample",
    "m01_rf_prepare_train_score",
    "m02_streaming_score_parity",  # trains + runs an availableNow stream
    "d07_dup_clusters",
    "d13_dedup_apply",  # applies d07's iterative components (checkpoint jobs)
    "x07_components_star",
    # q107: compaction IS a write job — the entry fragments a slice,
    # rewrites it via io.compact_files, and reports facets of the copy
    "q107_compaction_maintenance",
    # q109: the ORC roundtrip is a write job by definition
    "q109_orc_roundtrip",
    # q111/q112: the hive-partitioned rewrites are write jobs by definition
    "q111_partition_pruned_scan",
    "q112_dynamic_partition_pruning",
    # q113: ANALYZE stats collection + the eager-CBO localCheckpoint are
    # jobs by definition (CBO confs are session-global, so the plan must
    # execute while they're flipped and restore them before returning)
    "q113_cbo_join_reorder",
    # s06/s07: the persisted-index serving paths — the index build is a
    # write job by definition; the query sides stay the lazy probe plans
    "s06_persisted_lsh_topk",
    "s07_persisted_quantized_ivf",
    # s08/s09: the incremental-index paths — base-index build + append
    # are write jobs by definition; query sides stay the lazy probes
    "s08_incremental_lsh_append",
    "s09_incremental_ivf_append",
}


def test_building_every_spec_triggers_zero_jobs(spark, sf_dir):
    sc = spark.sparkContext
    specs = all_specs()
    # no table-cache pre-warm: opening a table launches no job either
    # (io.read_parquet), so each builder's group also covers its opens
    offenders: dict[str, list[int]] = {}
    for name, spec in specs.items():
        if name in EAGER_BY_CONTRACT:
            continue
        group = f"build-sweep-{name}"
        sc.setJobGroup(group, "lazy-build assertion")
        try:
            spec.builder(spark, sf_dir)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs:
            offenders[name] = list(jobs)
    assert not offenders, (
        f"builders ran Spark jobs at build time: {offenders} — move the "
        "action into the plan (broadcast 1-row aggregate crossJoin for "
        "scalar facts, as q25/t05 do) or register the builder in "
        "EAGER_BY_CONTRACT with a documented reason"
    )


def test_eager_allowlist_is_tight(spark, sf_dir):
    """The allowlist must not rot: every entry on it must actually exist in
    the registry (a renamed spec would silently exempt nothing)."""
    specs = all_specs()
    missing = EAGER_BY_CONTRACT - set(specs)
    assert not missing, f"allowlisted names not in registry: {missing}"
