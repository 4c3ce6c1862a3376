"""Embedding dot product — shared, measured, deliberately the HOF fold.

``dot_fold`` is the engine's one dot-product implementation (s01/s02/s03
similarity, d06/d10 embedding dedup):

    aggregate(zip_with(x, y, (p, q) -> p*q), 0.0, (acc, z) -> acc + z)

It adds strictly left-to-right from a 0.0 seed, which is the exact
accumulation order of DuckDB's ``list_dot_product`` — the bit-equality
the value-hash oracles rest on.

Two "faster" alternatives were built and benchmarked (round 4, sf0.1
s01 brute-force scoring, min-of-5 noop-sink wall-clock) and REJECTED:

- **Unrolled expression** ``0.0 + x[0]*y[0] + ... + x[63]*y[63]``
  (with either a pre-cast array or per-element casts): 0.91 s vs the
  fold's 0.33 s — ~3× SLOWER. The 64-term ``GetArrayItem`` chain blows
  past codegen's expression budget and falls back to interpreted eval
  of a ~260-node tree per pair, which loses to the HOF evaluator's
  tight per-element loop.
- **Arrow-batched NumPy matmul** (``mapInArrow``, probes broadcast,
  one BLAS GEMM per corpus batch): 0.335 s — a wash at local bench
  scale, because Arrow serialization of the corpus vectors costs what
  BLAS saves; it also needs an executor-side probe side-input, which
  breaks the all-builders-are-lazy contract (tests/test_lazy_build.py).

At 100 TB the calculus changes — a corpus-scan ANN over billions of
vectors wants the GEMM — but that is s02/s03's bucketed-candidate
territory anyway; the brute-force s01 exists as the exact,
oracle-anchored baseline, and for its role the fold is both correct
and (locally) fastest.
"""

from __future__ import annotations

import os

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


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of one fixture table (file or directory dataset;
    recursive, so Hive-partitioned/nested layouts count their leaf files
    rather than ~4 KB directory inodes). Unstat-able paths (hdfs://,
    s3:// — i.e. cluster volumes) return -1, which size-switched kernels
    read as "assume big". The size helper behind ``pair_kernel``."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(p)
                for f in files
                if not f.startswith((".", "_"))
            )
        return os.path.getsize(p)
    except OSError:
        return -1


# row-chunk cap for the pairwise kernel: chunk_rows × block_rows ≤ this
# many doubles (32 MiB of partial-sum buffer per task)
_PAIR_CHUNK_ELEMS = 4_000_000


def block_pair_cosine(
    df: DataFrame,
    block_col: str,
    mode: str,
    tau: float | None = None,
    strict: bool = False,
    k: int | None = None,
    id_col: str = "vec_id",
    v_col: str = "v",
    nv_col: str = "nv",
) -> DataFrame:
    """Within-block pairwise cosine, Arrow-batched (round 8) — the pair-
    stage twin of similarity's round-7 ``_numpy_assign``.

    Replaces the ``a JOIN b ON block AND id<id`` + interpreted-fold shape
    of d06/d10/s04 with one ``groupBy(block).applyInPandas``: each block's
    pair dots run as NumPy column sweeps accumulated dim-by-dim
    (``S += V[chunk, i:i+1] * V[None, :, i]``) — the same left-to-right
    per-pair summation order as ``dot_fold`` / DuckDB's
    ``list_dot_product``, so oracle bit parity is preserved BY
    CONSTRUCTION (same floats, same order; the norm product commutes
    bit-exactly). Row-chunked so the partial-sum buffer stays ≤32 MiB per
    task regardless of block skew. Pairs are filtered INSIDE the kernel
    (threshold or per-row top-k), so only survivors cross Arrow back —
    the n² pair relation never materializes as rows anywhere.

    mode="lt":   emit (id_a < id_b, cs) pairs passing ``cs > tau``
                 (strict) / ``cs >= tau``; ids ascend within the block
                 exactly like the join's ``a.id < b.id`` condition.
    mode="topk": emit each row's k best neighbors (cs DESC, id ASC,
                 self excluded) — both directions, like a != b.

    Output schema: ``id_a bigint, id_b bigint, cs double``. Lazy — a
    plain grouped-map plan node, no driver action.

    Edge parity with the join shape (pinned by
    ``tests/test_similarity.py::test_pair_kernel_null_and_nan_edges``):
    NULL block keys are dropped before grouping (the join's equality
    predicate never matches them, but a pandas groupBy WOULD form a NULL
    group), and zero-/null-norm vectors are dropped — under ANSI mode
    the join shape's ``dot/(na*nb)`` ABORTS on a zero divisor
    (DIVIDE_BY_ZERO), so "degenerate vectors never pair" is the engine
    contract, enforced identically here, in the join branches, and in
    the DuckDB oracles (``WHERE nv > 0``).
    """
    assert mode in ("lt", "topk")
    assert mode != "lt" or tau is not None, "mode='lt' requires tau"
    assert mode != "topk" or k is not None, "mode='topk' requires k"
    df = df.filter(F.col(block_col).isNotNull() & (F.col(nv_col) > 0))

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
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(pdf[v_col].to_numpy()[order])  # m × dim
        nv = pdf[nv_col].to_numpy()[order]
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

    return df.groupBy(block_col).applyInPandas(
        pairs, schema="id_a bigint, id_b bigint, cs double"
    )


def probe_corpus_topk_scan(
    spark,
    corpus_path: str,
    probe_max_id: int,
    k: int,
) -> DataFrame:
    """Brute-force probe×corpus cosine top-k, scored task-side in NumPy
    with no corpus shuffle.

    The unit of work is the parquet ROW GROUP, enumerated at build time
    from the footers (driver file IO — the same listing Spark's own
    planning does; no Spark job, lazy contract intact): a tiny
    descriptor frame (file, row_group) fans out one task per row group,
    and each task pyarrow-reads its row group and scores it, so
    parallelism is the row-group count regardless of session scan
    sizing. The probe set is a task-side filtered read of the same
    corpus (``vec_id < probe_max_id``), sorted by vec_id.

    Math parity with ``dot_fold``/DuckDB by construction: float32→float64
    per element, dim-by-dim left-fold accumulation, ties broken by
    neighbor_id, self excluded. Each row group emits its local per-probe
    top-k — a superset of the global top-k; the caller's window does the
    final cut (``#row_groups × |probes| × k`` candidate rows).

    Scale posture: per-task memory is one row group plus the probe
    block; on a real cluster the task-side reads assume shared storage —
    the same assumption the scan itself makes.
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    if os.path.isdir(corpus_path):
        files = sorted(
            f
            for f in _glob.glob(os.path.join(corpus_path, "*"))
            if os.path.basename(f).startswith("part")
            and not f.endswith((".crc", "_SUCCESS"))
        )
    else:
        files = [corpus_path]
    descs = [
        (f, rg)
        for f in files
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


# measured crossover (round 8): the NumPy kernels' fixed Python-worker/
# Arrow stage loses at tiny volume and wins from ~the 10× probe volume up
# (SCALE.md rounds 7-8; IVF assign: sf0.1 0.9 → 1.6 s, 100× 22.2 → 2.0 s)
_NP_PAIR_MIN_BYTES = 4 * 1024 * 1024


def pair_kernel(sf_dir: str, table: str = "embeddings") -> str:
    """Pick a vector kernel from input metadata (no job, lazy-safe):
    "np" (Arrow-batched NumPy — ``block_pair_cosine``, s01's
    ``probe_corpus_topk_scan``, the IVF assign/refine) when ``table`` is
    unstat-able or at least ``_NP_PAIR_MIN_BYTES`` on disk, else "join"
    (the equi-join / interpreted ``dot_fold`` shapes)."""
    size = table_bytes(sf_dir, table)
    return "np" if (size < 0 or size >= _NP_PAIR_MIN_BYTES) else "join"
