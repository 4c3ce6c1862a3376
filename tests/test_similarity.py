"""LSH ANN recall vs the brute-force oracle (SURVEY C21)."""

from __future__ import annotations

from final_project_big_data_spark.queries import all_specs


def test_lsh_recall_at_k(spark, sf_dir):
    exact = all_specs()["s01_cosine_topk"].builder(spark, sf_dir).collect()
    approx = all_specs()["s02_lsh_ann_topk"].builder(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # multiprobe 4-plane LSH: far above the ~1% random baseline
    assert recall >= 0.25, f"recall@5 = {recall:.3f}"


def test_lsh_deterministic(spark, sf_dir):
    a = all_specs()["s02_lsh_ann_topk"].builder(spark, sf_dir).collect()
    b = all_specs()["s02_lsh_ann_topk"].builder(spark, sf_dir).collect()
    assert a == b


def _recall_vs_exact(spark, sf_dir, name):
    exact = all_specs()["s01_cosine_topk"].builder(spark, sf_dir).collect()
    approx = all_specs()[name].builder(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ivf_recall_at_k(spark, sf_dir):
    recall = _recall_vs_exact(spark, sf_dir, "s03_ivf_ann_topk")
    # nprobe=2 of 16 untrained inverted lists: must beat the ~12.5%
    # random-list baseline by a wide margin
    assert recall >= 0.25, f"recall@5 = {recall:.3f}"


def test_ivf_deterministic(spark, sf_dir):
    a = all_specs()["s03_ivf_ann_topk"].builder(spark, sf_dir).collect()
    b = all_specs()["s03_ivf_ann_topk"].builder(spark, sf_dir).collect()
    assert a == b


def test_builders_run_no_eager_jobs(spark, sf_dir):
    """Query builders must be lazy: constructing the plan runs no MORE
    Spark jobs than bare source resolution (spark.read.parquet runs one
    footer/schema job per table; that is the floor, not our plan logic).
    The round-1 advisory flagged s03's count() and a06's first() — each
    added compute jobs on top of the read; this pins their absence.
    All tables are pre-warmed so the footer/schema job of a cold source
    can't masquerade as (or hide) a builder action — the floor is exactly
    zero, regardless of which tests ran earlier in the session."""
    from final_project_big_data_spark.io import load_tables

    load_tables(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()

    def jobs(fn):
        before = len(tracker.getJobIdsForGroup(None))
        fn()
        return len(tracker.getJobIdsForGroup(None)) - before

    for name in ("s01_cosine_topk", "s02_lsh_ann_topk", "s03_ivf_ann_topk",
                 "a06_freq_items"):
        got = jobs(lambda: all_specs()[name].builder(spark, sf_dir))
        assert got == 0, f"{name} ran {got} jobs at build (floor 0)"


def test_ivf_knobs_identical_across_engines(spark, sf_dir, duck):
    """The IVF centroid count k = min(65536, max(16, ceil(sqrt(n)))) and
    nprobe = max(2, min(64, ceil(k/8))) are DATA-DERIVED (round 5 — a
    fixed k made d10's pair join quadratic in corpus size). Both engines
    must derive the SAME values from the same corpus or they train
    different indexes and every downstream assignment diverges; this
    pins the two formula copies (the lazy kdf broadcast in
    ``_ivf_assigned`` and the ``knob`` CTE in ``_ivf_assign_sql``)
    against each other and against the closed form."""
    import math

    from final_project_big_data_spark.queries.similarity import (
        _MAX_CENTROIDS,
        _MAX_NPROBE,
        _MIN_CENTROIDS,
        _MIN_NPROBE,
        _ivf_assigned,
    )

    n = duck.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    want_k = min(_MAX_CENTROIDS, max(_MIN_CENTROIDS, math.ceil(math.sqrt(n))))
    want_np = max(_MIN_NPROBE, min(_MAX_NPROBE, math.ceil(want_k / 8)))

    _, _, _, kdf = _ivf_assigned(spark, sf_dir)
    got_k = kdf.collect()[0]["k"]
    assert got_k == want_k, f"spark k {got_k} != closed form {want_k}"

    sql_k, sql_np = duck.execute(
        f"""
        WITH en AS (SELECT vec_id FROM embeddings),
        knob AS (
          SELECT least({_MAX_CENTROIDS}, greatest({_MIN_CENTROIDS},
                       CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k
          FROM en
        )
        SELECT k, greatest({_MIN_NPROBE}, least({_MAX_NPROBE},
                   CAST(ceil(k / 8.0) AS BIGINT))) FROM knob
        """
    ).fetchone()
    assert sql_k == want_k, f"oracle k {sql_k} != closed form {want_k}"
    assert sql_np == want_np, f"oracle nprobe {sql_np} != {want_np}"

    # the trained index really has (at most) k centroids, all used
    _, _, assigned, _ = _ivf_assigned(spark, sf_dir)
    n_clusters = assigned.select("centroid_id").distinct().count()
    assert n_clusters <= want_k


def _force_kernel(monkeypatch, kern: str) -> None:
    """Patch the one vector-kernel gate; every caller imports it at call
    time, so the builders pick ``kern`` regardless of input size."""
    from final_project_big_data_spark.operators import vector as V

    monkeypatch.setattr(V, "pair_kernel", lambda path: kern)


def test_assign_kernels_bit_parity(spark, sf_dir, monkeypatch):
    """The two IVF argmax-assign kernels (interpreted HOF vs Arrow/NumPy
    dim-fold) must agree on EVERY assignment, through the Lloyd pass and
    the final assign: the NumPy kernel accumulates dim-by-dim,
    reproducing the aggregate(zip_with) fold's left-to-right summation
    order exactly (also measured 0 diffs at 200k x 400 —
    SCALE.md "IVF argmax-assign vectorization")."""
    from final_project_big_data_spark.queries.similarity import _ivf_assigned

    outs = []
    for kern in ("join", "np"):
        _force_kernel(monkeypatch, kern)
        _, _, assigned, _ = _ivf_assigned(spark, sf_dir)
        outs.append(sorted(assigned.select("vec_id", "centroid_id").collect()))
    assert outs[0] == outs[1]


def test_assign_kernel_sized_to_input(spark, sf_dir, monkeypatch):
    """The IVF assign kernel follows ``pair_kernel``: the sf0.001/sf0.01
    embeddings are far below the 4 MiB crossover, so the plan stays on
    the interpreted HOF; forcing the gate to "np" brings in the
    Arrow/NumPy kernel."""
    from final_project_big_data_spark.queries.similarity import _ivf_assigned

    def np_kernel_in_plan() -> bool:
        assigned = _ivf_assigned(spark, sf_dir)[2]
        return "FlatMapCoGroupsInPandas" in (
            assigned._jdf.queryExecution().logical().toString()
        )

    assert not np_kernel_in_plan()
    _force_kernel(monkeypatch, "np")
    assert np_kernel_in_plan()


def test_quantized_ann_recall_at_k(spark, sf_dir):
    """Int8 scalar quantization (s05) reconstructs within scale/2 per
    dim — at 256 levels the ranking perturbation is tiny, so recall@5
    vs the exact s01 ranking must be near-perfect (measured 1.0 at
    sf0.001; 0.8 leaves room for legitimate boundary flips on other
    corpora)."""
    recall = _recall_vs_exact(spark, sf_dir, "s05_quantized_ann")
    assert recall >= 0.8, f"recall@5 = {recall:.3f}"


def test_quantized_ann_deterministic(spark, sf_dir):
    a = all_specs()["s05_quantized_ann"].builder(spark, sf_dir).collect()
    b = all_specs()["s05_quantized_ann"].builder(spark, sf_dir).collect()
    assert a == b


def test_pair_kernels_bit_parity(spark, sf_dir, monkeypatch):
    """The NumPy halves of ``operators/vector`` must be BIT-IDENTICAL to
    the join + interpreted dot_fold halves on every query that switches
    on ``pair_kernel`` — ``block_pairs`` (d06, d10, s04) and the IVF
    ``assign_centroids`` of the fresh, persisted int8 and appended
    indexes (s03, s07, s09): same floats, same fold order, same
    survivors, same ranks. Collected rows compare exactly (no rounding
    slack beyond each query's own round(·,4) output column)."""
    for name in (
        "d06_embedding_near_dup",
        "d10_semdedup",
        "s03_ivf_ann_topk",
        "s04_knn_self_join",
        "s07_persisted_quantized_ivf",
        "s09_incremental_ivf_append",
    ):
        outs = []
        for kern in ("join", "np"):
            _force_kernel(monkeypatch, kern)
            outs.append(all_specs()[name].builder(spark, sf_dir).collect())
        assert outs[0] == outs[1], name


def test_s01_probe_kernels_bit_parity(spark, sf_dir, monkeypatch):
    """s01's row-group NumPy kernel (operators/vector.
    probe_corpus_topk_scan) must be BIT-IDENTICAL to the broadcast-join +
    interpreted dot_fold shape: same floats (dim-by-dim left fold ==
    zip_with/aggregate order), same survivors, same ranks — also under a
    tiny Arrow batch size (many per-batch top-k unions → global window
    superset cut)."""
    outs = []
    for kern in ("join", "np"):
        _force_kernel(monkeypatch, kern)
        outs.append(all_specs()["s01_cosine_topk"].builder(spark, sf_dir).collect())
    assert outs[0] == outs[1]
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        got = all_specs()["s01_cosine_topk"].builder(spark, sf_dir).collect()
        assert got == outs[0], "scan kernel diverged at 37-row batches"
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )


def test_s01_scan_kernel_reads_any_data_file_name(spark, sf_dir, tmp_path, monkeypatch):
    """The NumPy scan kernel enumerates row groups over ``io.data_files``,
    so a corpus whose files are not named ``part*`` (pyarrow's
    ``write_to_dataset`` writes ``<uuid>-0.parquet``) is scored in full,
    not silently skipped."""
    import os
    import shutil

    import pyarrow.parquet as pq

    src = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    shutil.copytree(src, tmp_path, dirs_exist_ok=True, copy_function=shutil.copyfile)
    emb = os.path.join(tmp_path, "embeddings.parquet")
    table = pq.read_table(emb)
    os.remove(emb)
    pq.write_to_dataset(table, emb)
    assert not any(f.startswith("part") for f in os.listdir(emb))
    _force_kernel(monkeypatch, "np")
    s01 = all_specs()["s01_cosine_topk"].builder
    want = s01(spark, src).collect()
    assert want
    assert s01(spark, str(tmp_path)).collect() == want


def test_pair_kernel_sized_to_input(sf_dir):
    """Kernel choice is metadata-only (lazy-safe): tiny fixtures take the
    join shape, at-scale (or unstat-able cluster) paths take NumPy."""
    from final_project_big_data_spark.io import table_path
    from final_project_big_data_spark.operators import vector as V

    # sf0.001 embeddings ≪ 4 MiB
    assert V.pair_kernel(table_path(sf_dir, "embeddings")) == "join"
    assert V.pair_kernel("hdfs://nowhere/sf100") == "np"


def test_pair_kernel_chunked_path_and_edges(spark, sf_dir, monkeypatch):
    """The kernel's row-chunked accumulation path never triggers at test
    SF (blocks fit one chunk), so force 1-row chunks and require output
    identical to the single-chunk run — plus the edge blocks the fixture
    lacks: a 1-row block (no pairs), duplicate vectors (cs ties broken
    by id), and k larger than the block."""
    from pyspark.sql import Row

    from final_project_big_data_spark.operators import vector as V

    rows = [
        # block 0: three vectors, two identical (tie), one 1-row block
        Row(vec_id=1, label=0, v=[1.0, 0.0], nv=1.0),
        Row(vec_id=2, label=0, v=[1.0, 0.0], nv=1.0),
        Row(vec_id=3, label=0, v=[0.6, 0.8], nv=1.0),
        Row(vec_id=9, label=1, v=[0.0, 1.0], nv=1.0),
        # block 2: four vectors to exercise multi-chunk splits
        Row(vec_id=4, label=2, v=[1.0, 1.0], nv=2.0**0.5),
        Row(vec_id=5, label=2, v=[1.0, 0.0], nv=1.0),
        Row(vec_id=6, label=2, v=[0.0, 1.0], nv=1.0),
        Row(vec_id=7, label=2, v=[-1.0, 0.0], nv=1.0),
    ]
    df = spark.createDataFrame(rows)

    def run(mode, **kw):
        return sorted(
            V.block_pairs(df, "label", mode, kernel="np", **kw).collect()
        )

    whole_lt = run("lt", tau=-2.0)  # keep every pair
    whole_tk = run("topk", k=10)  # k > every block size
    monkeypatch.setattr(V, "_PAIR_CHUNK_ELEMS", 1)  # 1-row chunks
    assert run("lt", tau=-2.0) == whole_lt
    assert run("topk", k=10) == whole_tk
    monkeypatch.undo()
    # 1-row block contributes nothing; identical vectors give cs=1.0 both
    # directions with id tiebreak
    ids = {(r.id_a, r.id_b) for r in whole_lt}
    assert (1, 2) in ids and not any(a == 9 or b == 9 for a, b in ids)
    tk = {(r.id_a, r.id_b): r.cs for r in whole_tk}
    assert tk[(1, 2)] == 1.0 and tk[(2, 1)] == 1.0
    # topk ordering: for vec 1, identical twin (2) outranks the 0.6-cos
    # neighbor (3)
    one = [r for r in whole_tk if r.id_a == 1]
    assert sorted(one, key=lambda r: (-r.cs, r.id_b))[0].id_b == 2


def test_persisted_ivf_index_matches_fresh(spark, sf_dir, tmp_path):
    """Index persistence (operators/ivf_index.py): save the trained IVF
    index as parquet, query it, and require EXACTLY the fresh s03 rows —
    centroid doubles and postings round-trip parquet bit-exactly, and
    both paths share _ivf_probe, so any divergence is a bug."""
    from final_project_big_data_spark.operators.ivf_index import (
        ivf_topk_with_index,
        save_ivf_index,
    )
    from final_project_big_data_spark.queries import similarity as S

    fresh = all_specs()["s03_ivf_ann_topk"].builder(spark, sf_dir).collect()
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(spark, sf_dir, idx)
    stored = ivf_topk_with_index(spark, idx, S._N_QUERIES).collect()
    assert stored == fresh


def test_persisted_lsh_index_matches_fresh(spark, sf_dir, tmp_path):
    """Round 9 (VERDICT r8 #5): the persisted LSH hash tables must
    return EXACTLY the fresh s02 rows — both paths share _lsh_probe and
    the signed table round-trips parquet bit-exactly."""
    from final_project_big_data_spark.operators.ivf_index import (
        lsh_topk_with_index,
        save_lsh_index,
    )
    from final_project_big_data_spark.queries import similarity as S

    fresh = all_specs()["s02_lsh_ann_topk"].builder(spark, sf_dir).collect()
    idx = str(tmp_path / "lsh_index")
    save_lsh_index(spark, sf_dir, idx)
    stored = lsh_topk_with_index(spark, idx, S._N_QUERIES).collect()
    assert stored == fresh


def test_quantized_ivf_index_matches_dequantized_scoring(
    spark, sf_dir, tmp_path
):
    """Round 9 (VERDICT r8 #5): the int8-quantized persisted postings
    (s05's codec composed with the IVF layout) must be (a) row-identical
    to running _ivf_probe over the float index's postings passed through
    the SAME dequantization grid — i.e. quantization is the only delta,
    and int8 storage is lossless with respect to it; (b) near the float
    index in recall; (c) materially smaller on disk (the serving-layout
    point: 1 byte/dim vs 8)."""
    import os

    from pyspark.sql import functions as F

    from final_project_big_data_spark.operators import ivf_index as IX
    from final_project_big_data_spark.operators.vector import dot_fold
    from final_project_big_data_spark.queries import similarity as S

    fidx = str(tmp_path / "ivf_float")
    qidx = str(tmp_path / "ivf_q8")
    IX.save_ivf_index(spark, sf_dir, fidx)
    IX.save_ivf_index(spark, sf_dir, qidx, quantize=True)

    got = IX.ivf_topk_with_index(spark, qidx, S._N_QUERIES).collect()

    # expected: float postings → same int8 grid → dequant → same probe
    cents, assigned, kdf = IX.load_ivf_index(spark, fidx)
    requant = IX._quantized_postings(
        assigned.select("vec_id", "v", "centroid_id")
    )
    dq = requant.select(
        "vec_id", IX.dequantize_expr().alias("v"), "centroid_id"
    ).withColumn("nv", F.sqrt(dot_fold(F.col("v"), F.col("v"))))
    probes = dq.filter(F.col("vec_id") < S._N_QUERIES).select(
        "vec_id", "v", "nv"
    )
    want = S._ivf_probe(probes, cents, dq, kdf).collect()
    assert got == want

    # recall vs the float index
    truth: dict[int, set[int]] = {}
    for r in IX.ivf_topk_with_index(spark, fidx, S._N_QUERIES).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        1 for r in got if r.neighbor_id in truth.get(r.query_id, set())
    )
    recall = hits / max(1, sum(len(v) for v in truth.values()))
    assert recall >= 0.8, f"recall@k vs float index = {recall:.3f}"

    def _bytes(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _d, files in os.walk(os.path.join(p, "postings"))
            for f in files
            if not f.startswith((".", "_"))
        )

    assert _bytes(qidx) < 0.5 * _bytes(fidx), (_bytes(qidx), _bytes(fidx))


def test_pair_kernel_null_and_nan_edges(spark, sf_dir):
    """Edge rows the fixture lacks (round-9, per ADVICE): a NULL block
    key must pair with nothing (the join's equality predicate drops it;
    a raw pandas groupBy would form a NULL group), and a zero-norm
    vector must pair with nothing — the engine contract, because under
    ANSI mode the join shape's divide ABORTS on a zero norm. Both modes
    of the NumPy kernel, and the lt mode of ``block_pairs``' join half,
    are compared against a hand-written Spark join over pre-guarded
    (nv > 0) rows."""
    from pyspark.sql import Row
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from final_project_big_data_spark.operators import vector as V

    rows = [
        Row(vec_id=1, label=0, v=[1.0, 0.0]),
        Row(vec_id=2, label=0, v=[0.6, 0.8]),
        Row(vec_id=3, label=0, v=[0.0, 0.0]),  # zero norm -> never pairs
        Row(vec_id=4, label=None, v=[1.0, 1.0]),  # null block key
        Row(vec_id=5, label=1, v=[0.0, 1.0]),
        Row(vec_id=6, label=1, v=[1.0, 0.0]),
        Row(vec_id=7, label=1, v=[0.8, 0.6]),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "nv", F.sqrt(V.dot_fold(F.col("v"), F.col("v")))
    )
    guarded = df.filter(F.col("nv") > 0)  # the engine's degenerate-vector guard

    def join_pairs(cond_extra, tau=None, strict=False):
        a = guarded.select(
            F.col("vec_id").alias("id_a"),
            F.col("label").alias("la"),
            F.col("v").alias("va"),
            F.col("nv").alias("na"),
        )
        b = guarded.select(
            F.col("vec_id").alias("id_b"),
            F.col("label").alias("lb"),
            F.col("v").alias("vb"),
            F.col("nv").alias("nb"),
        )
        cs = V.dot_fold(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        out = a.join(
            b, (F.col("la") == F.col("lb")) & cond_extra
        ).select("id_a", "id_b", cs.alias("cs"))
        if tau is not None:
            out = out.filter(
                F.col("cs") > tau if strict else F.col("cs") >= tau
            )
        return out

    def norm(rows_):
        return sorted((r.id_a, r.id_b, r.cs) for r in rows_)

    # mode='lt': block_pairs takes the UNguarded df (it applies the guard
    # itself) and must match the guarded join; vec 3 and 4 pair nowhere
    tau = 0.5
    kern = V.block_pairs(df, "label", "lt", tau=tau, kernel="np").collect()
    join = join_pairs(F.col("id_a") < F.col("id_b"), tau=tau).collect()
    assert norm(kern) == norm(join) and kern
    # the join half applies the same guard to the unguarded df
    jvm = V.block_pairs(df, "label", "lt", tau=tau, kernel="join").collect()
    assert norm(jvm) == norm(join)
    ids = {i for r in kern for i in (r.id_a, r.id_b)}
    assert 3 not in ids and 4 not in ids

    # mode='topk': same exclusions, ranked output identical
    k = 1
    kernt = V.block_pairs(df, "label", "topk", k=k, kernel="np").collect()
    w = W.partitionBy("id_a").orderBy(F.desc("cs"), F.asc("id_b"))
    joint = (
        join_pairs(F.col("id_a") != F.col("id_b"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id_a", "id_b", "cs")
        .collect()
    )
    assert norm(kernt) == norm(joint) and kernt
    ids_t = {i for r in kernt for i in (r.id_a, r.id_b)}
    assert 3 not in ids_t and 4 not in ids_t

    # the degenerate parameter combos fail fast, not at executor runtime
    import pytest

    with pytest.raises(AssertionError):
        V.block_pairs(df, "label", "lt", kernel="np")  # tau missing
    with pytest.raises(AssertionError):
        V.block_pairs(df, "label", "topk", kernel="np")  # k missing


# ------------------------------------ persisted-index partition pruning
# The s07 postings scan must plan a runtime dynamicpruningexpression on
# centroid_id AND the probe side must be a broadcast build — under
# Spark's default ``dynamicPartitionPruning.reuseBroadcastOnly`` a
# planned DPP expression over a non-broadcast join silently degenerates
# to ``true`` at runtime (the serving probe's FS bytes-read factor was
# exactly 1.0 until the broadcast hint landed, then 1.46 = the 400/280
# probed-list arithmetic). At 100 TB the pruned scan is the difference
# between an ANN query touching |probes|×nprobe directories and
# rescanning the corpus-sized index.
#
# s06 (LSH) keeps its planned-DPP pin for partition-discovery regression
# coverage, but its pruning is STRUCTURALLY nil at 2^n_planes = 16
# buckets (multiprobe covers them all) and the broadcast hint was
# measured 2.8× slower on the bulk shape — see _lsh_probe's comment.


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_s07_postings_scan_partition_pruned(spark, sf_dir):
    df = all_specs()["s07_persisted_quantized_ivf"].builder(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "dynamicpruningexpression(cast(centroid_id" in plan or (
        "dynamicpruningexpression(centroid_id" in plan
    ), plan[:2000]
    # the broadcast that makes the DPP real at runtime (reuseBroadcastOnly)
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_s06_tables_scan_partition_pruned(spark, sf_dir):
    df = all_specs()["s06_persisted_lsh_topk"].builder(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "dynamicpruningexpression(bucket" in plan, plan[:2000]
