"""Embedding vector kernels: the one home of each operator's two halves.

``dot_fold`` is the engine's one dot-product expression:

    aggregate(zip_with(x, y, (p, q) -> p*q), 0.0, (acc, z) -> acc + z)

It adds strictly left-to-right from a 0.0 seed, which is the exact
accumulation order of DuckDB's ``list_dot_product`` — the bit-equality
the value-hash oracles rest on. (An unrolled 64-term expression was
~3× slower: it falls out of codegen into a 260-node interpreted tree.)

Every vector operator has two kernels, picked by ``pair_kernel``:

- **join**: a Spark join (broadcast or equi-join) scored with the
  interpreted ``dot_fold`` — no Python-worker or Arrow fixed cost;
- **np**: an Arrow-batched NumPy kernel that accumulates dim by dim
  (``S += A[:, i:i+1] * B[None, :, i]``), the same per-pair
  left-to-right order as ``dot_fold``, so both kernels return the same
  doubles by construction (pinned by the ``*_bit_parity`` tests).

The kernels cross over at a measured volume (SCALE.md "IVF argmax-assign
vectorization" and "Pair-stage vectorization": IVF assign 0.9 vs 1.6 s
at sf0.1, 22.2 vs 2.0 s at the 100× probe), so both stay and one rule
chooses. The operators:

- ``block_pairs``: within-block pairwise cosine (s04, d06, d10);
- ``assign_centroids``: per-vector argmax centroid (IVF train, build,
  append);
- ``probe_pairs`` / ``probe_corpus_topk_scan``: few probes against the
  whole corpus (s01; s05 scores dequantized vectors, join half only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_fold(x: Column, y: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns;
    bit-identical to DuckDB ``list_dot_product``."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def normed(df: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus the ``embedding`` column as (``v`` array<double>,
    ``nv`` its norm) — the input shape of every kernel here."""
    return df.select(
        *cols, F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).withColumn("nv", F.sqrt(dot_fold(F.col("v"), F.col("v"))))


# measured crossover: the NumPy kernels' fixed Python-worker/Arrow stage
# loses at tiny volume and wins from ~the 10× probe volume up
_NP_PAIR_MIN_BYTES = 4 * 1024 * 1024


def pair_kernel(path: str) -> str:
    """Pick the vector kernel for the dataset at ``path`` from its
    on-disk bytes (metadata only, lazy-safe): "np" when it is unstat-able
    (a cluster volume) or at least ``_NP_PAIR_MIN_BYTES``, else "join"."""
    from final_project_big_data_spark.io import path_bytes

    size = path_bytes(path)
    return "np" if (size < 0 or size >= _NP_PAIR_MIN_BYTES) else "join"


# row-chunk cap for the NumPy pair kernel: chunk_rows × block_rows ≤ this
# many doubles (32 MiB of partial-sum buffer per task)
_PAIR_CHUNK_ELEMS = 4_000_000


def block_pairs(
    df: DataFrame,
    block_col: str,
    mode: str,
    *,
    tau: float | None = None,
    strict: bool = False,
    k: int | None = None,
    kernel: str,
) -> DataFrame:
    """Pairwise cosine within each ``block_col`` block of ``df``
    (vec_id, v, nv, block_col) -> (id_a bigint, id_b bigint, cs double).

    mode="lt":   pairs id_a < id_b passing ``cs > tau`` (strict) or
                 ``cs >= tau``.
    mode="topk": pairs id_a != id_b in both directions, holding each
                 id_a's k best (cs DESC, id_b ASC). The join half emits
                 every such pair, the np half only the k best; callers
                 rank and cut at k either way.

    NULL blocks and ``nv <= 0`` rows are dropped first, for both halves:
    the join's equality never matches a NULL key (a pandas groupBy would
    form a NULL group), and under ANSI mode a zero norm aborts the
    divide, so degenerate vectors never pair — as in the DuckDB oracles
    (``WHERE nv > 0``).

    The join half is one equi-join on the block key (O(block²) pairs,
    never corpus²). The np half is one ``groupBy(block).applyInPandas``,
    row-chunked so the partial-sum buffer stays ≤32 MiB per task whatever
    the block skew, with pairs filtered inside the kernel so the block²
    relation never crosses Arrow.
    """
    assert mode in ("lt", "topk")
    assert mode != "lt" or tau is not None, "mode='lt' requires tau"
    assert mode != "topk" or k is not None, "mode='topk' requires k"
    df = df.filter(F.col(block_col).isNotNull() & (F.col("nv") > 0))
    if kernel == "join":
        a, b = (
            df.select(
                F.col("vec_id").alias(f"id_{s}"),
                F.col(block_col).alias(f"_blk_{s}"),
                F.col("v").alias(f"v_{s}"),
                F.col("nv").alias(f"nv_{s}"),
            )
            for s in "ab"
        )
        cs = dot_fold(F.col("v_a"), F.col("v_b")) / (F.col("nv_a") * F.col("nv_b"))
        if mode == "lt":
            order = F.col("id_a") < F.col("id_b")
        else:
            order = F.col("id_a") != F.col("id_b")
        pairs = a.join(b, (F.col("_blk_a") == F.col("_blk_b")) & order).select(
            "id_a", "id_b", cs.alias("cs")
        )
        if mode == "lt":
            pairs = pairs.filter(F.col("cs") > tau if strict else F.col("cs") >= tau)
        return pairs

    def pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cs": pd.Series([], dtype="float64"),
                }
            )
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["v"].to_numpy()[order])  # m × dim
        nv = pdf["nv"].to_numpy()[order]
        m, dim = V.shape
        chunk = max(1, _PAIR_CHUNK_ELEMS // m)
        out_a, out_b, out_cs = [], [], []
        for a0 in range(0, m, chunk):
            a1 = min(a0 + chunk, m)
            S = np.zeros((a1 - a0, m))
            for i in range(dim):  # left fold over dims == dot_fold order
                S += V[a0:a1, i : i + 1] * V[None, :, i]
            cs = S / (nv[a0:a1, None] * nv[None, :])
            if mode == "lt":
                ai, bi = np.nonzero(
                    (np.arange(m)[None, :] > np.arange(a0, a1)[:, None])
                    & ((cs > tau) if strict else (cs >= tau))
                )
                out_a.append(ids[ai + a0])
                out_b.append(ids[bi])
                out_cs.append(cs[ai, bi])
            else:
                for r in range(a1 - a0):
                    row = cs[r]
                    sel = np.lexsort((ids, -row))
                    sel = sel[sel != (a0 + r)][:k]
                    out_a.append(np.full(len(sel), ids[a0 + r]))
                    out_b.append(ids[sel])
                    out_cs.append(row[sel])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype="int64"),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype="int64"),
                "cs": np.concatenate(out_cs) if out_cs else np.array([], dtype="float64"),
            }
        )

    return (
        df.select("vec_id", block_col, "v", "nv")
        .groupBy(block_col)
        .applyInPandas(pairs, schema="id_a bigint, id_b bigint, cs double")
    )


def _centroid_argmax(cents: DataFrame):
    """(1-row centroid-array frame, per-row argmax column): the ≤k
    centroids ``collect_list``-ed into ONE broadcast row, and each
    vector's argmax taken in-row with ``array_max`` over a ``transform``
    of struct(aff, centroid_id) — the same lexicographic max as the
    oracle's ``max(struct_pack(...))``. No join rows, no shuffle, no
    aggregate: the n×k affinity relation never exists as rows (joining
    and re-grouping it planned a SortAggregate over n×k rows, which ran
    out of memory at the 1000× probe; SCALE.md round 6)."""
    carr = cents.agg(
        F.collect_list(F.struct("centroid_id", "cv", "nc")).alias("_carr")
    )
    affs = F.transform(
        F.col("_carr"),
        lambda c: F.struct(
            (dot_fold(F.col("v"), c["cv"]) / (F.col("nv") * c["nc"])).alias("aff"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    return carr, F.array_max(affs).getField("centroid_id")


def _hof_assign(en: DataFrame, cents: DataFrame) -> DataFrame:
    """Join half of ``assign_centroids``: per-row ``_centroid_argmax``
    over the broadcast collected-centroid row."""
    carr, best_cid = _centroid_argmax(cents)
    return en.crossJoin(F.broadcast(carr)).select(
        "vec_id", "v", "nv", best_cid.alias("centroid_id")
    )


def _numpy_assign(en: DataFrame, cents: DataFrame) -> DataFrame:
    """NumPy half of ``assign_centroids``: the same per-row argmax (ties
    to the larger centroid_id) with the n×k×dim multiply-adds as NumPy
    column sweeps (SCALE.md "IVF argmax-assign vectorization"; a BLAS
    GEMM is faster still but sums in another order, so it is not used).

    Lazy — no driver-side centroid collect: the ≤k centroid rows are
    replicated to each of P hash buckets of the corpus (a k×P-row
    broadcast cross join) and meet their bucket's vectors in a cogrouped
    ``applyInPandas``, at the cost of one hash shuffle of the corpus.
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


def assign_centroids(en: DataFrame, cents: DataFrame, kernel: str) -> DataFrame:
    """Each vector of ``en`` (vec_id, v, nv) with its max-cosine centroid
    of ``cents`` (centroid_id, cv, nc), ties to the larger centroid_id:
    (vec_id, v, nv, centroid_id)."""
    return (_hof_assign if kernel == "join" else _numpy_assign)(en, cents)


def probe_pairs(en: DataFrame, n_probes: int) -> DataFrame:
    """Join half of the probe×corpus scorer: the probes (``vec_id <
    n_probes``) broadcast against every other vector of ``en`` (vec_id,
    v, nv) -> (query_id, neighbor_id, cs); the corpus never shuffles."""
    q = en.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    return en.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot_fold(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))).alias(
            "cs"
        ),
    )


def probe_corpus_topk_scan(
    spark,
    corpus_path: str,
    probe_max_id: int,
    k: int,
) -> DataFrame:
    """NumPy half of the probe×corpus scorer: cosine top-k of the probes
    (``vec_id < probe_max_id``) against the parquet corpus at
    ``corpus_path``, scored task-side with no corpus shuffle.

    The unit of work is the parquet ROW GROUP, enumerated at build time
    from the footers (driver file IO — the same listing Spark's own
    planning does; no Spark job, lazy contract intact): a tiny
    descriptor frame (file, row_group) fans out one task per row group,
    and each task pyarrow-reads its row group and scores it, so
    parallelism is the row-group count regardless of session scan
    sizing. The probe set is a task-side filtered read of the same
    corpus, sorted by vec_id.

    Ties break by neighbor_id, self excluded. Each row group emits its
    local per-probe top-k — a superset of the global top-k; the caller's
    window does the final cut (``#row_groups × |probes| × k`` candidate
    rows).

    Scale posture: per-task memory is one row group plus the probe
    block; on a real cluster the task-side reads assume shared storage —
    the same assumption the scan itself makes.
    """
    import pyarrow.parquet as _pq

    from final_project_big_data_spark.io import data_files

    descs = [
        (f, rg)
        for f in data_files(corpus_path)
        for rg in range(_pq.ParquetFile(f).metadata.num_row_groups)
    ]

    def score(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            corpus_path,
            columns=["vec_id", "embedding"],
            filters=[("vec_id", "<", probe_max_id)],
        )
        qids = tbl["vec_id"].to_numpy()
        order = np.argsort(qids, kind="stable")
        qids = qids[order]
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
        )[order]
        t, dim = Q.shape
        nq = np.zeros(t)
        for i in range(dim):  # left fold over dims == dot_fold order
            nq += Q[:, i] * Q[:, i]
        nq = np.sqrt(nq)

        for pdf in batches:
            for path, rg in zip(pdf["path"], pdf["rg"]):
                part = pq.ParquetFile(path).read_row_group(
                    int(rg), columns=["vec_id", "embedding"]
                )
                ids = part["vec_id"].to_numpy()
                if not len(ids):
                    continue
                arr = part["embedding"].combine_chunks()
                off = arr.offsets.to_numpy()
                flat = arr.values.to_numpy(zero_copy_only=False)
                V = (
                    flat[off[0] : off[-1]]
                    .reshape(len(ids), -1)
                    .astype(np.float64)
                )
                m = len(ids)
                cs = np.empty((t, m))
                # row-chunked dim fold: the naive full-width fold streams
                # the t×m accumulator through memory once PER DIM (64×9 MB
                # per row group — bandwidth-bound, 1.1 s/task measured);
                # chunking rows keeps the accumulator slice cache-resident
                # across the dim loop while preserving the EXACT per-pair
                # left-fold summation order (bit parity unaffected)
                CH = 4096
                for s0 in range(0, m, CH):
                    s1 = min(s0 + CH, m)
                    Vc = V[s0:s1]
                    nvc = np.zeros(s1 - s0)
                    for i in range(dim):
                        nvc += Vc[:, i] * Vc[:, i]
                    Sc = np.zeros((t, s1 - s0))
                    for i in range(dim):
                        Sc += Q[:, i : i + 1] * Vc[None, :, i]
                    cs[:, s0:s1] = Sc / (nq[:, None] * np.sqrt(nvc)[None, :])
                out_q, out_n, out_cs = [], [], []
                for r in range(t):
                    row = cs[r]
                    sel = np.lexsort((ids, -row))
                    sel = sel[ids[sel] != qids[r]][:k]
                    out_q.append(np.full(len(sel), qids[r]))
                    out_n.append(ids[sel])
                    out_cs.append(row[sel])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cs": np.concatenate(out_cs),
                    }
                )

    return (
        spark.createDataFrame(descs, "path string, rg int")
        .repartition(max(1, len(descs)))
        .mapInPandas(score, "query_id bigint, neighbor_id bigint, cs double")
    )
