"""Similarity search over embeddings (SURVEY C21+).

- ``s01``: brute-force cosine top-k — the exact baseline.
- ``s02``: LSH-bucketed ANN (random hyperplane signatures, multiprobe).
- ``s03``: trained-IVF ANN (seeded init + one Lloyd pass, k = ⌈√n⌉).
- ``s04``: blocked kNN self-join (corpus×corpus within label blocks).
- ``s05``: int8 scalar-quantized top-k (the memory-side ANN trade).
- ``s06``/``s07`` (round 9): the SERVING paths — persisted LSH hash
  tables and the int8-quantized persisted IVF index, answered entirely
  from ``operators.ivf_index`` layouts.

Every entry is value-hash oracle-checked: the hyperplanes/init seeds are
deterministic constants, dot products fold in the same sequential order
as DuckDB's ``list_dot_product`` (operators/vector.py), and even the
Lloyd pass and the int8 grid replay exactly in SQL.

Scale posture: s01's query side is a broadcast (few probe vectors against
the big corpus — no shuffle of the corpus); for corpus×corpus workloads use
s02/s03's bucketed joins or the MinHash/LSH machinery in ``dedup``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.vector import dot_fold as _dot
from final_project_big_data_spark.plans.parallelism import widen
from final_project_big_data_spark.queries import query

_TOP_K = 5
_N_QUERIES = 10  # probe set: vec_id < 10


@query(
    "s01_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS cs
      FROM q JOIN e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """,
    category="similarity",
)
def s01(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k, two kernels picked by ``pair_kernel``.

    Norms are computed once per side BEFORE the pair scoring — the pair
    expression is a single dot product.

    - **join** (tiny inputs): broadcast probes × corpus equi-join with the
      interpreted HOF fold — zero Python-worker setup.
    - **np**: ``operators.vector.probe_corpus_topk_scan`` scores parquet
      row groups task-side in the exact ``dot_fold`` accumulation order
      (bit parity pinned by
      tests/test_similarity.py::test_s01_probe_kernels_bit_parity); no
      corpus shuffle, only per-row-group top-k survivors come back.

    Both kernels feed the same global window top-k tail, so the oracle
    hash-matches either way (``sqrt(dot(x,x))`` per row == per pair).
    See operators/vector.py for the benchmarked-and-rejected alternatives.
    """
    from final_project_big_data_spark.io import table_path
    from final_project_big_data_spark.operators.vector import (
        pair_kernel,
        probe_corpus_topk_scan,
    )

    raw = widen(load_table(spark, sf, "embeddings")).select(
        "vec_id", "embedding"
    )
    if pair_kernel(sf) == "np":
        scored = probe_corpus_topk_scan(
            spark, table_path(sf, "embeddings"), _N_QUERIES, _TOP_K
        )
    else:
        e = raw.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        en = e.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
        q = en.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nq"),
        )
        scored = (
            en.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (
                    _dot(F.col("qv"), F.col("v"))
                    / (F.col("nq") * F.col("nv"))
                ).alias("cs"),
            )
        )
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    # tiny_sorted: the output is bounded at _N_QUERIES*_TOP_K rows; a
    # plain orderBy would re-execute the window pipeline for range-bound
    # sampling (plans/ordering.py, measured -32% on this query, round 6)
    from final_project_big_data_spark.plans.ordering import tiny_sorted

    return tiny_sorted(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("cs", 4).alias("cos_sim"), "rank"
        ),
        "query_id",
        "rank",
    )


_N_PLANES = 4  # 16 buckets; multiprobe widens candidate recall
_LSH_SEED = 42


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (splitmix-style LCG, no numpy
    on the executors — the planes are tiny driver-side constants)."""
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            # map top 32 bits to (-1, 1)
            row.append(((state >> 32) / 2**31) - 1.0)
        planes.append(row)
    return planes


def _s02_sql() -> str:
    """Full DuckDB mirror of the LSH plan — the hyperplanes are seeded
    constants, so signature, multiprobe and re-rank are all replayable:
    sign tests and dot products are bit-exact across engines (s01 proved
    ``list_dot_product`` == the sequential zip_with fold, see
    operators/vector.py)."""
    planes = _hyperplanes(64, _N_PLANES, _LSH_SEED)
    sig_terms = "\n         + ".join(
        f"CASE WHEN list_dot_product([{', '.join(repr(x) for x in row)}], v)"
        f" >= 0 THEN {1 << (_N_PLANES - 1 - i)} ELSE 0 END"
        for i, row in enumerate(planes)
    )
    flips = ", ".join(f"({f})" for f in [0] + [1 << i for i in range(_N_PLANES)])
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
      SELECT vec_id, v,
         {sig_terms} AS bucket,
         sqrt(list_dot_product(v, v)) AS nv
      FROM e
    ),
    probes AS (
      SELECT s.vec_id AS query_id, s.v AS qv, s.nv AS nq,
             xor(s.bucket, f.flip) AS probe
      FROM sig s, (VALUES {flips}) AS f(flip)
      WHERE s.vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             list_dot_product(p.qv, b.v) / (p.nq * b.nv) AS cs
      FROM probes p JOIN sig b ON p.probe = b.bucket AND p.query_id != b.vec_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """


def _lsh_signed(spark: SparkSession, sf: str) -> DataFrame:
    """The LSH hash table: (vec_id, v, nv, bucket) with the seeded
    random-hyperplane signature. Shared by s02 (fresh build) and
    ``operators.ivf_index.save_lsh_index`` (persisted hash tables)."""
    e = widen(load_table(spark, sf, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    return _sign_vectors(e)


def _sign_vectors(e: DataFrame) -> DataFrame:
    """(vec_id, v) → (vec_id, v, bucket, nv): the seeded hyperplane
    signature applied to ANY vector frame. The planes depend only on
    (dim, _N_PLANES, _LSH_SEED) — never on the corpus — which is what
    makes the persisted LSH index APPENDABLE: signing a new batch in a
    later job lands it in exactly the buckets a from-scratch rebuild
    would pick (``append_to_lsh_index``; append(A,B) == fresh(A∪B) is
    oracle-checked by s08)."""
    dim = 64
    planes = _hyperplanes(dim, _N_PLANES, _LSH_SEED)
    plane_lits = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in planes]
    )
    sig = F.aggregate(
        F.transform(
            plane_lits,
            lambda row: F.when(_dot(row, F.col("v")) >= 0, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, bit: acc * 2 + bit,
    )
    return e.withColumn("bucket", sig).withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    )


def _lsh_probe(probes_signed: DataFrame, signed: DataFrame) -> DataFrame:
    """The query side of LSH ANN, shared by s02 and the persisted-index
    path: explode each probe row to its own bucket plus every 1-bit-flip
    neighbor (multiprobe), equi-join the hash table on bucket, exact
    cosine re-rank to top-k. ``probes_signed`` must carry
    (vec_id, v, nv, bucket)."""
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(_N_PLANES)
        ],
    )
    probed = probes_signed.withColumn("probe", F.explode(probes)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        "probe",
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    # NO broadcast hint here, unlike _ivf_probe — measured both ways at
    # the 100× serving probe (round 11, tools/index_serving_probe.py):
    # with only 2^n_planes = 16 buckets, multiprobe covers essentially
    # every bucket, so partition pruning is structurally nil for LSH
    # (bytes_pruned_factor 1.0) AND forcing the probe side broadcast
    # made the bulk 200-probe query 2.8× SLOWER (29 → 87 s — the BHJ
    # inner loop re-evaluates the fat array-typed build rows per match,
    # where the shuffle join streams the 16 dense groups once).
    return (
        probed.join(
            signed,
            (F.col("probe") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cs"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cs", 4).alias("cos_sim"), "rank")
        .orderBy("query_id", "rank")
    )


@query("s02_lsh_ann_topk", oracle=_s02_sql(), category="similarity")
def s02(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signature → multiprobe bucket
    equi-join → exact cosine re-rank within candidates.

    Probe side explodes to its own bucket plus every 1-bit-flip neighbor
    (multiprobe), so the candidate join is an equi-join on bucket — the
    O(n²) → O(n·probes/B · n) scale path; no vector ever crosses buckets.
    Verified by tests/test_similarity.py recall@k against s01 AND, since
    the hyperplanes are seeded constants, a full DuckDB value-hash oracle
    that replays signature → multiprobe → re-rank. The signature and
    probe stages are shared with the persisted-hash-table deployment
    shape (``operators.ivf_index.save_lsh_index``).
    """
    signed = _lsh_signed(spark, sf)
    return _lsh_probe(signed.filter(F.col("vec_id") < _N_QUERIES), signed)


# IVF sizing (round 5, found by the guarded 100× sweep): a FIXED centroid
# count is a scale defect — d10's within-cluster pair join costs Σ|cluster|²
# ≈ n²/k, so pinning k=16 made the pair stage grow quadratically with the
# corpus (the 100× sweep hung there). k = ⌈√n⌉ balances the n·k assignment
# work against the n²/k pair work (both are d-dim dot products, so √n is
# the exact minimizer: total 2·n^1.5). nprobe then scales as ⌈k/8⌉ so the
# scanned corpus fraction (nprobe/k) — and therefore recall — stays put as
# data grows, until the _MAX_NPROBE cap lets the fraction shrink at
# cluster scale (the honest ANN recall/cost trade, documented here rather
# than hidden). Both knobs derive from count(embeddings) IDENTICALLY in
# the Spark plan and the DuckDB oracle, so the engines always train the
# same index. _MAX_CENTROIDS bounds the seed-candidate TakeOrdered so the
# row_number window that ranks seeds runs over ≤65536 rows (~35 MB), never
# the corpus; k saturates there around n ≈ 4.3e9 vectors.
_MIN_CENTROIDS = 16
_MAX_CENTROIDS = 65536
_MIN_NPROBE = 2
_MAX_NPROBE = 64
_DIM = 64


def _centroid_argmax(cents: DataFrame):
    """(1-row centroid-array frame, per-row argmax column) for IVF
    assignment — the n×k affinity relation NEVER exists as rows.

    Round-6 scale fix (found by the guarded 1000× sweep): the previous
    shape joined every vector with every broadcast centroid and re-grouped
    by ``vec_id`` to take ``max(struct(aff, centroid_id))``, carrying the
    64-dim vector through the join via ``first(v)``. A struct-max buffer is
    not fixed-width, so Spark planned a SortAggregate — i.e. a SORT of the
    n×k×~550 B affinity relation (≈1.5 TB at the 1000× probe volume; the
    sweep OOMed there). This is the exact hazard the DuckDB oracle
    (`_ivf_assign_sql`) already documents and avoids. The fix goes further
    than the oracle's skinny-argmax: ``collect_list`` the ≤k centroids into
    ONE broadcast row, then compute each vector's argmax IN the row with
    ``array_max`` over a ``transform`` — no join rows, no shuffle, no agg,
    map-only. ``array_max`` on struct(aff, centroid_id) is the same
    lexicographic max as the oracle's ``max(struct_pack(...))``; the dots
    are the same sequential fold — bit parity holds (checksummed against
    the join+agg shape at 200k×1415 before adoption). The single collected
    row is ≤k×~550 B (35 MB at the _MAX_CENTROIDS cap) — broadcast-safe.
    """
    carr = cents.agg(
        F.collect_list(F.struct("centroid_id", "cv", "nc")).alias("_carr")
    )
    affs = F.transform(
        F.col("_carr"),
        lambda c: F.struct(
            (_dot(F.col("v"), c["cv"]) / (F.col("nv") * c["nc"])).alias("aff"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    return carr, F.array_max(affs).getField("centroid_id")


def _hof_assign(en: DataFrame, cents: DataFrame) -> DataFrame:
    """The pre-round-7 interpreted shape: per-row ``array_max(transform)``
    over the broadcast collected-centroid row (``_centroid_argmax``).
    Kept as the small-input kernel — see ``operators.vector.pair_kernel``."""
    carr, best_cid = _centroid_argmax(cents)
    return en.crossJoin(F.broadcast(carr)).select(
        "vec_id", "v", "nv", best_cid.alias("centroid_id")
    )


def _numpy_assign(en: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-vector argmax-centroid assignment, Arrow-batched (round 7).

    Same semantics as ``_centroid_argmax`` (per-row argmax, ties → larger
    centroid_id, affinity = fold-dot/(nv·nc)), but the n×k×dim multiply-
    adds run as NumPy column sweeps instead of the JVM higher-order-
    function interpreter. Measured (tools/ivf_vec_probe.py, 100× probe,
    200k vectors × k=400): HOF 22.2 s → 2.0 s (11×) with ZERO assignment
    diffs — the kernel accumulates dim-by-dim (``S += V[:,i:i+1] *
    C[None,:,i]``), which reproduces the ``aggregate(zip_with(...))``
    fold's left-to-right per-(row, centroid) summation order exactly, so
    DuckDB-oracle bit parity is preserved by construction (a BLAS GEMM
    variant is another 2.5× faster but has a different summation order —
    kept probe-only).

    Laziness is preserved — no driver-side centroid collect. The ≤k
    centroid rows are replicated to each of P hash buckets of the corpus
    (a k×P-row broadcast cross join — bytes, not a scale term) and meet
    their bucket's vectors in a cogrouped ``applyInPandas``: one extra
    hash shuffle of the corpus (~550 B/row — trivial next to the
    interpreted-dot constant it removes) plus the Arrow crossing the
    pandas path pays anyway. At the 1000× sweep volume this turns the
    ~25–40 min assign stages of s03/d10 into minutes.
    """
    spark = en.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = en.withColumn(
        "_b", F.pmod(F.hash("vec_id"), F.lit(n_buckets)).cast("int")
    )
    crep = cents.crossJoin(
        F.broadcast(
            spark.range(n_buckets).select(F.col("id").cast("int").alias("_b"))
        )
    )

    def assign(vdf, cdf):
        import numpy as np
        import pandas as pd

        if vdf.empty:
            # dtypes matter on the empty path: a bare [] column comes out
            # float64 and Arrow refuses ndarray->list<double> for "v"
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "v": pd.Series([], dtype="object"),
                    "nv": pd.Series([], dtype="float64"),
                    "centroid_id": pd.Series([], dtype="int64"),
                }
            )
        order = np.argsort(cdf["centroid_id"].to_numpy())
        ids = cdf["centroid_id"].to_numpy()[order]
        C = np.stack(cdf["cv"].to_numpy()[order])  # k × dim
        nc = cdf["nc"].to_numpy()[order]
        V = np.stack(vdf["v"].to_numpy())  # n × dim
        S = np.zeros((V.shape[0], C.shape[0]))
        for i in range(C.shape[1]):  # left fold over dims == HOF order
            S += V[:, i : i + 1] * C[None, :, i]
        aff = S / (vdf["nv"].to_numpy()[:, None] * nc[None, :])
        # ties → larger centroid_id: ids ascend, take the LAST max index
        idx = aff.shape[1] - 1 - np.argmax(aff[:, ::-1], axis=1)
        return pd.DataFrame(
            {
                "vec_id": vdf["vec_id"],
                "v": vdf["v"],
                "nv": vdf["nv"],
                "centroid_id": ids[idx],
            }
        )

    return (
        keyed.groupBy("_b")
        .cogroup(crep.groupBy("_b"))
        .applyInPandas(
            assign,
            schema="vec_id bigint, v array<double>, nv double, centroid_id bigint",
        )
    )


def _lloyd_refine(
    en: DataFrame, cents: DataFrame, kernel: str
) -> DataFrame:
    """One Lloyd (k-means) pass, expressed lazily in DataFrame ops.

    Assign every vector to its max-cosine centroid (per-row argmax over
    the broadcast centroid array — see ``_centroid_argmax``), then
    recompute each centroid as the element-wise mean of its members — 64
    ``avg`` aggregates in ONE hash aggregate, no explode. Centroid ids are
    the init rows' vec_ids (dense ids are never needed — it's only a join
    key). A centroid that loses every member simply drops out.
    """
    assign = _numpy_assign if kernel == "np" else _hof_assign
    assigned = assign(en, cents).select("vec_id", "v", "centroid_id")
    # means quantized to 8 decimals: the per-dim avg is the ONE floating
    # accumulation-order-dependent step, and quantizing it lets a second
    # engine (the DuckDB oracle) reproduce every downstream affinity,
    # assignment and rank bit-for-bit from identical centroid doubles
    means = assigned.groupBy("centroid_id").agg(
        *[F.round(F.avg(F.col("v")[i]), 8).alias(f"_c{i}") for i in range(_DIM)]
    )
    return means.select(
        "centroid_id",
        F.array(*[F.col(f"_c{i}") for i in range(_DIM)]).alias("cv"),
    ).withColumn("nc", F.sqrt(_dot(F.col("cv"), F.col("cv"))))


def _row_argmax_sql(carr: str) -> str:
    """Per-row argmax centroid over a collected centroid list — the
    DuckDB text twin of the Spark side's ``_centroid_argmax``:
    ``list_aggregate(..., 'max')`` on struct(aff, centroid_id) is the
    same lexicographic max as the old ``max(struct_pack(...))`` group
    aggregate and Spark's ``array_max`` (ties → larger centroid_id);
    the dots are the same ``list_dot_product``."""
    return f"""struct_extract(list_aggregate(list_transform({carr}, x ->
               struct_pack(aff := list_dot_product(e.v, x.cv)
                             / (e.nv * x.nc),
                           centroid_id := x.centroid_id)), 'max'),
             'centroid_id')"""


def _ivf_assign_sql(train_pred: str | None = None) -> str:
    """DuckDB mirror of the trained-IVF assignment (init → one Lloyd pass
    → final per-vector centroid), shared by s03's ANN oracle and d10's
    SemDeDup oracle. Ends at CTE ``assigned2`` = (vec_id, v, nv,
    centroid_id).

    ``train_pred`` (s09, incremental index): when set, the quantizer —
    knob k, seeded init, and the Lloyd means — is trained on the
    ``en WHERE train_pred`` slice only, while ``assigned2`` still covers
    the FULL corpus. That is exactly the serving semantics of
    ``append_to_ivf_index``: later batches are assigned against the
    frozen quantizer, never retrained (the FAISS train-once/add-forever
    posture). Default None keeps the SQL byte-identical to the
    all-corpus form the s03/s07/d10 oracles replay.

    Memory shape, round-6 revision (found at the 1000× sweep, third
    iteration of this lesson): the round-5 shape streamed the n×k
    affinity relation as 3 scalars into a ``max(struct_pack(...))``
    GROUP BY vec_id — but DuckDB's parallel grouped aggregation BUFFERS
    ITS INPUT ROWS into radix partitions before aggregating (measured:
    ~26 B/input-row regardless of the aggregate function, scalar max
    identical to struct max), so ANY group-by over the n×k relation
    costs ~26·n·k bytes — ~100 GB at the 1000× probe; the kernel
    OOM-killed the sweep three times there, sailing past
    ``memory_limit``. The fix mirrors the Spark plan's
    ``_centroid_argmax``: collect the ≤k centroids into ONE list row
    and compute each vector's argmax INSIDE the row
    (``_row_argmax_sql``) — the n×k relation never exists, memory is
    O(k) per row, and no group-by ever sees more than n rows. The
    per-dim means then aggregate n rows (64 scalar avgs), not n×k."""
    en_t = "en" if train_pred is None else "en_t"
    train_cte = (
        ""
        if train_pred is None
        else f"en_t AS (SELECT * FROM en WHERE {train_pred}),\n    "
    )
    return f"""
    WITH en AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nv
      FROM embeddings
    ),
    {train_cte}knob AS (
      SELECT least({_MAX_CENTROIDS}, greatest({_MIN_CENTROIDS},
                   CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k
      FROM {en_t}
    ),
    init AS (
      SELECT vec_id AS centroid_id, v AS cv, nv AS nc
      FROM (SELECT *, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM {en_t})
      WHERE rn <= (SELECT k FROM knob)
    ),
    carr1 AS (
      SELECT list(struct_pack(centroid_id := centroid_id, cv := cv,
                              nc := nc) ORDER BY centroid_id) AS carr
      FROM init
    ),
    assigned1 AS (
      SELECT e.vec_id, e.v,
             {_row_argmax_sql("c.carr")} AS centroid_id
      FROM {en_t} e CROSS JOIN carr1 c
    ),
    means AS (
      SELECT centroid_id, list(m ORDER BY i) AS cv
      FROM (SELECT a.centroid_id, t.i, round(avg(a.v[t.i]), 8) AS m
            FROM assigned1 a, UNNEST(generate_series(1, {_DIM})) t(i)
            GROUP BY a.centroid_id, t.i)
      GROUP BY centroid_id
    ),
    cents AS (
      SELECT centroid_id, cv, sqrt(list_dot_product(cv, cv)) AS nc FROM means
    ),
    carr2 AS (
      SELECT list(struct_pack(centroid_id := centroid_id, cv := cv,
                              nc := nc) ORDER BY centroid_id) AS carr
      FROM cents
    ),
    assigned2 AS (
      SELECT e.vec_id, e.v, e.nv,
             {_row_argmax_sql("c.carr")} AS centroid_id
      FROM en e CROSS JOIN carr2 c
    )"""


def _s03_sql() -> str:
    """Full DuckDB mirror of the IVF plan, Lloyd pass included. The seeded
    md5 init, the 8-decimal quantized per-dim means, and bit-exact dot
    products make every stage replayable; argmax tie-breaks mirror the
    Spark plan exactly (struct-max → aff DESC, centroid_id DESC; probe
    ranking → aff DESC, centroid_id ASC).

    The probe ranking reads its OWN probe-only affinity CTE (``aff_q``,
    ≤ _N_QUERIES×k rows) instead of filtering ``aff2`` — round-6 scale
    fix (found by the guarded 1000× sweep): a CTE referenced twice is
    MATERIALIZED by DuckDB, and aff2 is the n×k affinity relation
    (~2.8e9 rows ≈ 100 GB at the 1000× probe; the kernel OOM-killed the
    sweep's python at 107 GB anon RSS). Referenced once, aff2 streams
    through best2's hash argmax in fixed memory. Same affinity values on
    the probe subset — same dots, same ranking — so the result is
    unchanged. This mirrors the Spark side, where the probe ranking is
    likewise built from the ≤_N_QUERIES filtered corpus."""
    return _ivf_assign_sql() + f""",
    aff_q AS (
      SELECT e.vec_id, e.v AS qv, e.nv AS nq, c.centroid_id,
             list_dot_product(e.v, c.cv) / (e.nv * c.nc) AS aff
      FROM en e CROSS JOIN cents c
      WHERE e.vec_id < {_N_QUERIES}
    ),
    probes AS (
      SELECT vec_id AS query_id, qv, nq, centroid_id AS probe_centroid
      FROM (SELECT vec_id, qv, nq, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY aff DESC, centroid_id ASC) AS rn
            FROM aff_q)
      WHERE rn <= (SELECT greatest({_MIN_NPROBE}, least({_MAX_NPROBE},
                       CAST(ceil(k / 8.0) AS BIGINT))) FROM knob)
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             list_dot_product(p.qv, b.v) / (p.nq * b.nv) AS cs
      FROM probes p JOIN assigned2 b
        ON p.probe_centroid = b.centroid_id AND p.query_id != b.vec_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """


def _ivf_assigned(spark: SparkSession, sf: str, where=None):
    """Trained-IVF assignment shared by s03 (ANN) and d10 (SemDeDup):
    seeded md5 init → one Lloyd pass (``_lloyd_refine``) → per-vector
    argmax centroid. Returns (en, cents, assigned, kdf): ``en`` is the
    normed corpus (vec_id, v, nv) and ``cents`` the trained centroids —
    s03 builds its probe-side affinity ranking from these (filtered to
    the ≤``_N_QUERIES`` probe vectors, so the exploded affinity shape is
    bounded there); ``assigned`` is the final (vec_id, v, nv,
    centroid_id), computed by the Arrow-batched per-row argmax
    (``_numpy_assign`` — the n×k affinity relation never exists as rows,
    and the dots run vectorized instead of in the HOF interpreter);
    ``kdf`` is the 1-row data-derived centroid-count frame (see
    the sizing comment at ``_MIN_CENTROIDS``). Mirrors
    ``_ivf_assign_sql`` bit-for-bit (8-decimal quantized centroid means,
    identical k derivation).

    The k derivation stays LAZY (no builder-time job, pinned by
    tests/test_similarity.py): k comes from a 1-row count aggregate that
    is broadcast-crossed into the seed ranking, and the global
    row_number that ranks seeds runs over the ``limit(_MAX_CENTROIDS)``
    TakeOrdered candidate set — bounded rows on one task — never over
    the corpus."""
    e = widen(load_table(spark, sf, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    if where is not None:
        # train AND index only this slice — the incremental-index path
        # (s09) builds on a subset, then appends the rest against the
        # frozen quantizer
        e = e.filter(where)
    en = e.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
    kdf = en.agg(
        F.least(
            F.lit(_MAX_CENTROIDS),
            F.greatest(
                F.lit(_MIN_CENTROIDS), F.ceil(F.sqrt(F.count(F.lit(1))))
            ),
        )
        .cast("int")
        .alias("k")
    )
    seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    init = (
        en.orderBy(*seed_order)
        .limit(_MAX_CENTROIDS)
        .withColumn("rn", F.row_number().over(W.orderBy(*seed_order)))
        .crossJoin(F.broadcast(kdf))
        .filter(F.col("rn") <= F.col("k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nv").alias("nc"),
        )
    )
    from final_project_big_data_spark.operators.vector import pair_kernel

    kernel = pair_kernel(sf)
    cents = _lloyd_refine(en, init, kernel)
    # final per-vector argmax centroid: no n×k rows either way; the
    # kernel (interpreted HOF vs Arrow/NumPy fold) is sized to the input
    # — bit parity between the two measured at 200k×400 (0 diffs)
    assign = _numpy_assign if kernel == "np" else _hof_assign
    assigned = assign(en, cents)
    return en, cents, assigned, kdf


@query("s03_ivf_ann_topk", oracle=_s03_sql(), category="similarity")
def s03(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-bucketed ANN: coarse quantize → inverted-list equi-join → exact
    cosine re-rank. The second scale path next to s02's LSH.

    Coarse centroids are TRAINED: a deterministic seeded init (the
    k = ⌈√n⌉ smallest ``md5(vec_id)`` rows — a uniform pseudo-random
    sample with no density assumption on vec_ids; see the sizing comment
    at ``_MIN_CENTROIDS``) refined by one Lloyd pass (``_lloyd_refine``).
    MLlib ``KMeans.fit`` would be eager — it runs jobs at build time —
    so the training is expressed as lazy DataFrame ops instead; a
    cluster deployment would persist the trained centers once and reuse
    them across queries. Assignment is a map-only per-row argmax over the
    broadcast centroid array (``_centroid_argmax`` — zero shuffles, and
    the n×k affinity relation never exists as rows). Candidates then come
    from an equi-join on ``centroid_id`` (nprobe = ⌈k/8⌉ on the query
    side, so the scanned fraction — and recall — holds as data grows up
    to the ``_MAX_NPROBE`` cap), and the corpus is never cross-joined:
    O(n·√n) assignment + O(nq·n·nprobe/k) candidate scoring, both
    partitionable across any number of executors.

    Verified by recall@k against s01 plus determinism
    (tests/test_similarity.py); rows-only driver check. No eager job runs
    at build time (pinned in tests/test_similarity.py).
    """
    en, cents, assigned, kdf = _ivf_assigned(spark, sf)
    return _ivf_probe(en.filter(F.col("vec_id") < _N_QUERIES), cents, assigned, kdf)


def _ivf_probe(
    probes_en: DataFrame, cents: DataFrame, assigned: DataFrame, kdf: DataFrame
) -> DataFrame:
    """The query side of IVF ANN, shared by s03 (fresh build) and
    ``operators.ivf_index`` (persisted index): rank centroids per probe,
    take nprobe = ⌈k/8⌉ inverted lists, exact cosine re-rank to top-k.
    ``probes_en`` must carry (vec_id, v, nv); the exploded
    (probe, centroid) affinity shape is fine HERE because the probe set
    is bounded — ≤ |probes|×k affinities ever exist."""
    npdf = kdf.select(
        F.greatest(
            F.lit(_MIN_NPROBE),
            F.least(F.lit(_MAX_NPROBE), F.ceil(F.col("k") / F.lit(8.0))),
        )
        .cast("int")
        .alias("np")
    )
    aff = probes_en.join(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "nv",
        F.struct(
            (_dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc"))).alias("aff"),
            F.col("centroid_id"),
        ).alias("ac"),
    )
    wq = W.partitionBy("vec_id").orderBy(F.desc(F.col("ac.aff")), F.asc(F.col("ac.centroid_id")))
    probes = (
        aff.withColumn("pr", F.row_number().over(wq))
        .crossJoin(F.broadcast(npdf))
        .filter(F.col("pr") <= F.col("np"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nq"),
            F.col("ac.centroid_id").alias("probe_centroid"),
        )
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    # broadcast the probe side — bounded by |probes| × nprobe rows at any
    # corpus size, but its planner ESTIMATE flows from the corpus scan it
    # derives from, so without the hint the join goes shuffle — and the
    # persisted-index postings scan's dynamicpruningexpression silently
    # NO-OPS at runtime (DPP default reuseBroadcastOnly: nothing to
    # reuse → the filter degenerates to true). Found and verified by the
    # round-11 serving probe's FS bytes-read metric
    # (tools/index_serving_probe.py): with the hint, a 5-probe query
    # reads 1.3 MB of the 1.9 MB postings — factor 1.46, exactly the
    # 400/280 probed-list arithmetic — and runs 1.6× faster; the bulk
    # 200-probe shape is unchanged-to-better (6.8 → 6.4 s).
    return (
        F.broadcast(probes).join(
            assigned,
            (F.col("probe_centroid") == F.col("centroid_id"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cs"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cs", 4).alias("cos_sim"), "rank")
        .orderBy("query_id", "rank")
    )


_KNN_K = 3


@query(
    "s04_knn_self_join",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nv
      FROM embeddings
      WHERE sqrt(list_dot_product(embedding::DOUBLE[],
                                  embedding::DOUBLE[])) > 0
    ),
    scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_dot_product(a.v, b.v) / (a.nv * b.nv) AS cs
      FROM e a JOIN e b
        ON a.label = b.label AND a.vec_id != b.vec_id
    )
    SELECT vec_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cs DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_KNN_K}
    ORDER BY vec_id, rank
    """,
    category="similarity",
)
def s04(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked kNN self-join: every vector's top-k cosine neighbors within
    its label block — the corpus×corpus companion to s01's few-probes
    shape (near-dup mining, cluster-local retrieval).

    Scale shape: the self-join is an EQUI-join on the block key, so both
    sides shuffle once on ``label`` and pair generation is O(block²) per
    block, never corpus². Norms are hoisted per row before the join (one
    dot product per pair, not three). The top-k window re-uses the
    ``vec_id`` side of the same shuffle. At 100 TB the block key becomes a
    trained partition (IVF centroid / LSH bucket — s02/s03); the plan is
    unchanged.
    """
    from final_project_big_data_spark.operators.vector import (
        block_pair_cosine,
        pair_kernel,
    )

    e = widen(load_table(spark, sf, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # zero-norm vectors never pair (engine contract — ANSI mode would
    # abort the divide; same WHERE nv > 0 guard in the oracle)
    en = e.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v")))).filter(
        F.col("nv") > 0
    )
    if pair_kernel(sf) == "np":
        # round-8 vectorized pair stage: the kernel already keeps only
        # each row's top-k (same cs doubles, same (cs DESC, id ASC)
        # order), so the JVM window below ranks ≤k rows per vector
        # instead of the whole block² pair relation
        scored = block_pair_cosine(
            en, "label", mode="topk", k=_KNN_K
        ).select(
            F.col("id_a").alias("vec_id"),
            F.col("id_b").alias("neighbor_id"),
            "cs",
        )
    else:
        a = en.select(
            F.col("vec_id"), F.col("label"), F.col("v"), F.col("nv")
        )
        b = en.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nb_label"),
            F.col("v").alias("nb_v"),
            F.col("nv").alias("nb_nv"),
        )
        scored = a.join(
            b,
            (F.col("label") == F.col("nb_label"))
            & (F.col("vec_id") != F.col("neighbor_id")),
        ).select(
            "vec_id",
            "neighbor_id",
            (
                _dot(F.col("v"), F.col("nb_v"))
                / (F.col("nv") * F.col("nb_nv"))
            ).alias("cs"),
        )
    w = W.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select(
            "vec_id", "neighbor_id", F.round("cs", 4).alias("cos_sim"), "rank"
        )
        .orderBy("vec_id", "rank")
    )


_SEMDEDUP_TAU = 0.4  # cosine threshold: above it, the larger id is dropped


@query(
    "d10_semdedup",
    oracle=_ivf_assign_sql()
    + f""",
    pairs AS (
      SELECT a.vec_id AS ka, b.vec_id AS kb,
             list_dot_product(a.v, b.v) / (a.nv * b.nv) AS cs
      FROM assigned2 a JOIN assigned2 b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE a.nv > 0 AND b.nv > 0
    )
    SELECT kb AS vec_id, min(ka) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           ROUND(min_by(cs, ka), 4) AS keeper_cos
    FROM pairs WHERE cs > {_SEMDEDUP_TAU}
    GROUP BY kb ORDER BY vec_id
    """,
    category="dedup",
)
def d10(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal via
    embedding clustering — cluster the corpus with the trained IVF coarse
    quantizer (shared with s03), then WITHIN each cluster drop every
    vector that has a smaller-id neighbor above cosine τ=0.4, reporting
    the kept representative and its similarity.

    This is the scale-defining trick of semantic dedup: the O(n²) cosine
    matrix is never built — pairs exist only inside a cluster (equi-join
    on ``centroid_id``), so cost is Σ|cluster|², tuned by the centroid
    count. k = ⌈√n⌉ (data-derived since round 5 — a FIXED k made the
    pair stage quadratic again and the guarded 100× sweep hung on it;
    see ``_MIN_CENTROIDS``) keeps total pair work ~n^1.5. The pair join
    shuffles on centroid_id; skewed clusters are the known failure mode
    and the cap strategy from d03 (bucket-size limit) applies unchanged. Keeper
    choice (min id) makes the pass deterministic and idempotent —
    re-running on the deduped corpus drops nothing.
    """
    from final_project_big_data_spark.operators.vector import (
        block_pair_cosine,
        pair_kernel,
    )

    _, _, assigned, _ = _ivf_assigned(spark, sf)
    # zero-norm vectors never pair (engine contract — ANSI mode would
    # abort the divide; same nv > 0 guard in the oracle's pairs CTE)
    assigned = assigned.filter(F.col("nv") > 0)
    if pair_kernel(sf) == "np":
        # round-8 vectorized pair stage: same floats, same fold order as
        # the join shape below (operators/vector.py), pairs filtered
        # inside the kernel so only survivors cross Arrow back
        pairs = block_pair_cosine(
            assigned.select("vec_id", "v", "nv", "centroid_id"),
            "centroid_id",
            mode="lt",
            tau=_SEMDEDUP_TAU,
            strict=True,
        ).select(F.col("id_a").alias("ka"), F.col("id_b").alias("kb"), "cs")
    else:
        a = assigned.select(
            F.col("vec_id").alias("ka"),
            F.col("v").alias("va"),
            F.col("nv").alias("na"),
            "centroid_id",
        )
        b = assigned.select(
            F.col("vec_id").alias("kb"),
            F.col("v").alias("vb"),
            F.col("nv").alias("nb"),
            "centroid_id",
        )
        cs = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        pairs = (
            a.join(b, ["centroid_id"])
            .filter(F.col("ka") < F.col("kb"))
            .select("ka", "kb", cs.alias("cs"))
            .filter(F.col("cs") > _SEMDEDUP_TAU)
        )
    return (
        pairs.groupBy(F.col("kb").alias("vec_id"))
        .agg(
            F.min("ka").alias("keeper_id"),
            F.count("*").alias("n_neighbors"),
            F.round(F.min_by("cs", "ka"), 4).alias("keeper_cos"),
        )
        .orderBy("vec_id")
    )


@query(
    "s05_quantized_ann",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q8 AS (
      SELECT vec_id, v, list_aggregate(v, 'min') AS mn,
             (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0
               AS sc
      FROM e
    ),
    dq AS (
      SELECT vec_id,
             CASE WHEN sc = 0 THEN v
                  ELSE list_transform(
                         v, x -> mn + floor((x - mn) / sc + 0.5) * sc)
             END AS v
      FROM q8
    ),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM dq),
    q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq
          FROM n WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             list_dot_product(q.qv, n.v) / (q.nq * n.nv) AS cs
      FROM q JOIN n ON n.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """,
    category="similarity",
)
def s05(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar-quantized ANN: per-vector (min, max) quantization of
    the embedding to 256 levels, then cosine top-k over the DEQUANTIZED
    vectors — the standard memory-side ANN trade (4× smaller vectors in
    the index/serving tier, reconstruction error ≤ scale/2 per
    dimension). The whole codec is JVM expression work (array_min/max +
    one ``transform``); no UDF, no shuffle beyond s01's broadcast
    probe×corpus shape. The oracle replays the identical codec in
    DuckDB (same ``floor(·+0.5)`` grid, same sequential dot order), so
    correctness covers the quantizer itself, not just the top-k;
    ``tests/test_similarity.py`` additionally pins recall@{_TOP_K}
    against the exact s01 ranking. At 100 TB the quantized corpus is
    what ships to the ANN tier; s02/s03's bucketing composes on top
    unchanged.
    """
    e = widen(load_table(spark, sf, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    q8 = e.select(
        "vec_id", "v", mn.alias("mn"), ((mx - mn) / 255.0).alias("sc")
    )
    dq = q8.select(
        "vec_id",
        F.when(F.col("sc") == 0, F.col("v"))
        .otherwise(
            F.transform(
                "v",
                lambda x: F.col("mn")
                + F.floor((x - F.col("mn")) / F.col("sc") + 0.5)
                * F.col("sc"),
            )
        )
        .alias("v"),
    )
    n = dq.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    scored = n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))).alias(
            "cs"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("neighbor_id"))
    from final_project_big_data_spark.plans.ordering import tiny_sorted

    return tiny_sorted(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("cs", 4).alias("cos_sim"), "rank"
        ),
        "query_id",
        "rank",
    )


@query("s06_persisted_lsh_topk", oracle=_s02_sql(), category="similarity")
def s06(spark: SparkSession, sf: str) -> DataFrame:
    """The persisted-LSH SERVING path as a driver-checked entry
    (round 9, VERDICT r8 #5): build the hash-table index
    (``operators.ivf_index.save_lsh_index`` — signed corpus partitioned
    by bucket), then answer the s02 query exclusively FROM the index.
    The oracle is s02's own SQL verbatim: "persisted equals fresh" is
    not a pytest claim here but a per-round cross-engine hash check.
    Eager by contract (the index build is a write job); the query side
    stays the shared lazy ``_lsh_probe`` plan, whose scan prunes to the
    1 + planes probed bucket directories."""
    import hashlib
    import tempfile

    from final_project_big_data_spark.operators.ivf_index import (
        lsh_topk_with_index,
        save_lsh_index,
    )

    # deterministic per-corpus path (NOT mkdtemp): the index write is
    # mode("overwrite"), so repeated invocations — the driver builds
    # every query twice, sweeps run two harnesses — reuse one directory
    # instead of accumulating GB-scale litter at probe volumes
    path = os.path.join(
        tempfile.gettempdir(),
        f"s06_lsh_index_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    save_lsh_index(spark, sf, path)
    return lsh_topk_with_index(spark, path, _N_QUERIES)


def _s07_sql() -> str:
    """s03's full IVF mirror with the s05 int8 grid applied to the
    SCORING vectors: assignment (init → Lloyd → argmax) runs on the
    original floats exactly as ``save_ivf_index`` does, then probes and
    postings are replaced by their dequantized reconstructions — the
    precise semantics of querying the int8-persisted index."""
    return _ivf_assign_sql() + f""",
    dq0 AS (
      SELECT vec_id, centroid_id, v,
             list_aggregate(v, 'min') AS mn,
             (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0
               AS sc
      FROM assigned2
    ),
    dqn AS (
      SELECT vec_id, centroid_id, v2 AS v,
             sqrt(list_dot_product(v2, v2)) AS nv
      FROM (SELECT vec_id, centroid_id,
                   CASE WHEN sc = 0 THEN list_transform(v, x -> mn)
                        ELSE list_transform(
                               v, x -> mn + floor((x - mn) / sc + 0.5) * sc)
                   END AS v2
            FROM dq0)
    ),
    aff_q AS (
      SELECT e.vec_id, e.v AS qv, e.nv AS nq, c.centroid_id,
             list_dot_product(e.v, c.cv) / (e.nv * c.nc) AS aff
      FROM dqn e CROSS JOIN cents c
      WHERE e.vec_id < {_N_QUERIES}
    ),
    probes AS (
      SELECT vec_id AS query_id, qv, nq, centroid_id AS probe_centroid
      FROM (SELECT vec_id, qv, nq, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY aff DESC, centroid_id ASC) AS rn
            FROM aff_q)
      WHERE rn <= (SELECT greatest({_MIN_NPROBE}, least({_MAX_NPROBE},
                       CAST(ceil(k / 8.0) AS BIGINT))) FROM knob)
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             list_dot_product(p.qv, b.v) / (p.nq * b.nv) AS cs
      FROM probes p JOIN dqn b
        ON p.probe_centroid = b.centroid_id AND p.query_id != b.vec_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """


@query("s07_persisted_quantized_ivf", oracle=_s07_sql(), category="similarity")
def s07(spark: SparkSession, sf: str) -> DataFrame:
    """The int8-quantized persisted-IVF SERVING path as a driver-checked
    entry (round 9, VERDICT r8 #5): train + quantize + write the index
    (``save_ivf_index(quantize=True)`` — 1 byte/dim inverted lists),
    then answer the s03 query exclusively FROM the index, with probes
    and postings both reconstructed through the s05 grid. The oracle
    replays the ENTIRE path in DuckDB — seeded init, Lloyd pass, argmax
    assignment on original floats, then the identical
    ``mn + floor((x-mn)/sc + 0.5)·sc`` reconstruction for probe ranking
    and scoring — so the quantizer-in-the-storage-layout is value-hash
    verified per round, not pytest-only. Eager by contract (the index
    build writes); the query side is the shared lazy ``_ivf_probe``."""
    import hashlib
    import tempfile

    from final_project_big_data_spark.operators.ivf_index import (
        ivf_topk_with_index,
        save_ivf_index,
    )

    # deterministic per-corpus path — same no-accumulation rationale as s06
    path = os.path.join(
        tempfile.gettempdir(),
        f"s07_q8_ivf_index_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    save_ivf_index(spark, sf, path, quantize=True)
    return ivf_topk_with_index(spark, path, _N_QUERIES)


# ------------------------------------------ incremental index maintenance

_SPLIT_A = "vec_id % 2 = 0"  # base-index slice for the append entries


@query("s08_incremental_lsh_append", oracle=_s02_sql(), category="similarity")
def s08(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental LSH index maintenance as a driver-checked entry
    (round 10, VERDICT r9 #6): build the persisted hash tables from HALF
    the corpus (vec_id even), ``append_to_lsh_index`` the other half as
    a later batch, then answer the s02 query exclusively FROM the
    appended index. The oracle is s02's fresh-build SQL over the FULL
    corpus verbatim — so "append(A, B) == fresh(A ∪ B)" is not a pytest
    claim but a per-round cross-engine value-hash check; it holds
    EXACTLY because the hyperplane hash depends only on
    (dim, planes, seed), never on the corpus. Eager by contract (two
    write jobs); the query side stays the shared lazy ``_lsh_probe``,
    pruning to the probed bucket directories regardless of how many
    append batches populated them."""
    import hashlib
    import tempfile

    from final_project_big_data_spark.operators.ivf_index import (
        append_to_lsh_index,
        lsh_topk_with_index,
        save_lsh_index,
    )

    # deterministic per-corpus path — same no-accumulation rationale as s06
    path = os.path.join(
        tempfile.gettempdir(),
        f"s08_lsh_append_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    save_lsh_index(spark, sf, path, where=F.expr(_SPLIT_A))
    batch = (
        widen(load_table(spark, sf, "embeddings"))
        .filter(~F.expr(_SPLIT_A))
        .select("vec_id", "embedding")
    )
    append_to_lsh_index(spark, path, batch)
    return lsh_topk_with_index(spark, path, _N_QUERIES)


def _s09_sql() -> str:
    """s03's full IVF mirror with the quantizer TRAINED on the even-id
    half only (``_ivf_assign_sql(train_pred)``): knob k, seeded init and
    the Lloyd means see the base slice, while ``assigned2`` — the
    postings — covers the full corpus. That is the exact relational
    semantics of save(A) + append(B): the appended batch is assigned
    against the frozen A-trained centroids."""
    return _ivf_assign_sql(train_pred=_SPLIT_A) + f""",
    aff_q AS (
      SELECT e.vec_id, e.v AS qv, e.nv AS nq, c.centroid_id,
             list_dot_product(e.v, c.cv) / (e.nv * c.nc) AS aff
      FROM en e CROSS JOIN cents c
      WHERE e.vec_id < {_N_QUERIES}
    ),
    probes AS (
      SELECT vec_id AS query_id, qv, nq, centroid_id AS probe_centroid
      FROM (SELECT vec_id, qv, nq, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY aff DESC, centroid_id ASC) AS rn
            FROM aff_q)
      WHERE rn <= (SELECT greatest({_MIN_NPROBE}, least({_MAX_NPROBE},
                       CAST(ceil(k / 8.0) AS BIGINT))) FROM knob)
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             list_dot_product(p.qv, b.v) / (p.nq * b.nv) AS cs
      FROM probes p JOIN assigned2 b
        ON p.probe_centroid = b.centroid_id AND p.query_id != b.vec_id
    )
    SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= {_TOP_K}
    ORDER BY query_id, rank
    """


@query("s09_incremental_ivf_append", oracle=_s09_sql(), category="similarity")
def s09(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVF index maintenance as a driver-checked entry
    (round 10, VERDICT r9 #6): train + persist the index on HALF the
    corpus (vec_id even — ``save_ivf_index(where=...)``), add the other
    half with ``append_to_ivf_index`` (assigned against the FROZEN
    centroids, appended into the existing inverted-list partitions),
    then answer the s03-shaped query from the appended index. The
    oracle replays the whole lifecycle relationally — half-corpus knob
    + seeded init + Lloyd, full-corpus assignment, probe ranking and
    scoring — so append-equals-index-in-one-shot is value-hash checked
    cross-engine per round. Centroid-drift rebuilds and small-file
    re-listing are the separate maintenance jobs (``save_ivf_index``,
    ``compact_ivf_postings``; fragmentation + swap pinned in
    tests/test_round10_ops.py)."""
    import hashlib
    import tempfile

    from final_project_big_data_spark.operators.ivf_index import (
        append_to_ivf_index,
        ivf_topk_with_index,
        save_ivf_index,
    )

    path = os.path.join(
        tempfile.gettempdir(),
        f"s09_ivf_append_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    save_ivf_index(spark, sf, path, where=F.expr(_SPLIT_A))
    batch = (
        widen(load_table(spark, sf, "embeddings"))
        .filter(~F.expr(_SPLIT_A))
        .select("vec_id", "embedding")
    )
    append_to_ivf_index(spark, path, batch)
    return ivf_topk_with_index(spark, path, _N_QUERIES)
