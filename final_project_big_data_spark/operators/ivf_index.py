"""IVF index persistence — the "trained centers persist" posture made
executable.

s03 trains its IVF coarse quantizer lazily inside the query (required:
registry builders must run no jobs at build time), which re-pays the
train+assign cost every execution. SCALE.md's measured ANN crossover
argues IVF wins "wherever the trained centroids persist"; this module
is that deployment shape: build once, write the index as plain parquet
(centroids + inverted-list postings + the 1-row k metadata), query
forever. The query path is byte-identical to s03's — both call
``queries.similarity._ivf_probe`` — so a persisted-index query returns
EXACTLY the fresh-build result (pinned by
``tests/test_similarity.py::test_persisted_ivf_index_matches_fresh``).

At 100 TB the index lives beside the corpus on object storage: postings
are partitioned by ``centroid_id`` so a query's nprobe inverted lists
prune to nprobe directories at the SCAN (partition pruning — no full
postings read), and the ≤k-row centroid table broadcasts. Rebuilds are
a scheduled maintenance job (this module's ``save``), not query-time
work.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from final_project_big_data_spark.io import data_files, read_parquet
from final_project_big_data_spark.operators.vector import dot_fold


def _quantized_postings(df: DataFrame) -> DataFrame:
    """The int8 scalar-quantization codec (s05, and the quantized IVF
    postings): (vec_id, v, ...) → (vec_id, mn, sc, q, ...) with the
    per-vector 256-level grid ``floor((x-mn)/sc + 0.5)`` shifted to
    tinyint — 1 byte per dimension in the persisted postings instead of
    8 (the serving-layout payoff; measured on-disk ratio pinned by
    tests/test_indexing.py). ``nv`` is dropped; other columns are kept.
    sc == 0 (constant vector) stores level 0 for every dim — dequant
    ``mn + (q+128)·sc`` then reproduces mn exactly without the ANSI
    divide-by-zero the unguarded grid would hit. ``dequantized_sql`` is
    the DuckDB half."""
    keep = [c for c in df.columns if c not in ("vec_id", "v", "nv")]
    mn, mx = F.array_min("v"), F.array_max("v")
    base = df.select(
        "vec_id",
        "v",
        *keep,
        mn.alias("mn"),
        ((mx - mn) / 255.0).alias("sc"),
    )
    q = F.when(
        F.col("sc") == 0,
        F.transform("v", lambda _: F.lit(-128).cast("byte")),
    ).otherwise(
        F.transform(
            "v",
            lambda x: (
                F.floor((x - F.col("mn")) / F.col("sc") + 0.5) - 128
            ).cast("byte"),
        )
    )
    return base.select("vec_id", "mn", "sc", q.alias("q"), *keep)


def dequantize_expr():
    """array<double> reconstruction from (q, mn, sc): the float sequence
    ``mn + level·sc`` (levels round-trip int8 storage losslessly)."""
    return F.transform(
        "q",
        lambda c: F.col("mn") + (c.cast("double") + 128.0) * F.col("sc"),
    )


def dequantized(df: DataFrame) -> DataFrame:
    """(vec_id, mn, sc, q, ...) → (vec_id, v, ..., nv): the scoring
    vectors of the int8 codec, with their norm."""
    keep = [c for c in df.columns if c not in ("vec_id", "mn", "sc", "q")]
    return df.select("vec_id", dequantize_expr().alias("v"), *keep).withColumn(
        "nv", F.sqrt(dot_fold(F.col("v"), F.col("v")))
    )


def dequantized_sql(src: str, *keep: str) -> str:
    """DuckDB half of the int8 codec: the subquery of ``src``'s (vec_id,
    *keep) with ``v`` replaced by its grid reconstruction, plus ``nv`` —
    the same ``mn + level·sc`` doubles ``dequantized`` scores on."""
    cols = ", ".join(("vec_id",) + keep)
    return f"""(
      SELECT {cols}, v, sqrt(list_dot_product(v, v)) AS nv
      FROM (SELECT {cols},
                   CASE WHEN sc = 0 THEN list_transform(v, x -> mn)
                        ELSE list_transform(
                               v, x -> mn + floor((x - mn) / sc + 0.5) * sc)
                   END AS v
            FROM (SELECT {cols}, v, list_aggregate(v, 'min') AS mn,
                         (list_aggregate(v, 'max') - list_aggregate(v, 'min'))
                           / 255.0 AS sc
                  FROM {src})))"""


def save_ivf_index(
    spark: SparkSession, sf: str, path: str, quantize: bool = False, where=None
) -> None:
    """Train the IVF quantizer on ``sf``'s embeddings (the same seeded
    init + one Lloyd pass as s03) and persist the three index frames.
    ``quantize=True`` stores the postings' vectors as int8 levels
    (s05's codec — the real serving layout: 1 byte/dim inverted lists,
    dequantized at load into the identical scoring floats).
    ``where`` restricts BOTH training and the indexed postings to a
    corpus slice — the base index of the incremental path
    (``append_to_ivf_index`` adds later batches against the frozen
    quantizer)."""
    from final_project_big_data_spark.queries.similarity import _ivf_assigned

    _, cents, assigned, kdf = _ivf_assigned(spark, sf, where=where)
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    postings = (
        _quantized_postings(assigned)
        if quantize
        else assigned.select("vec_id", "v", "nv", "centroid_id")
    )
    (
        postings
        # co-locate each inverted list before the partitioned write: without
        # this, every one of the ~32 writer tasks drops a file into every
        # centroid directory (k×tasks small files — measured 5× slower
        # QUERIES from listing alone); with it, one file per list
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "postings"))
    )
    kdf.write.mode("overwrite").parquet(os.path.join(path, "meta"))


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, postings, meta) back as DataFrames; postings scans
    prune to the probed centroid_id partitions. Quantized postings
    (int8 ``q`` column) dequantize lazily at load — downstream plans
    are identical either way."""
    cents = read_parquet(spark, os.path.join(path, "centroids"))
    assigned = read_parquet(spark, os.path.join(path, "postings"))
    if "q" in assigned.columns:
        assigned = dequantized(assigned)
    kdf = read_parquet(spark, os.path.join(path, "meta"))
    return cents, assigned, kdf


def ivf_topk_with_index(
    spark: SparkSession, path: str, n_queries: int
) -> DataFrame:
    """ANN top-k for the first ``n_queries`` corpus vectors against a
    persisted index — s03's exact query plan over loaded frames. The
    probe vectors come out of the postings themselves (they carry v/nv),
    so no corpus rescan happens at query time."""
    from final_project_big_data_spark.queries.similarity import _ivf_probe

    cents, assigned, kdf = load_ivf_index(spark, path)
    probes_en = assigned.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "v", "nv"
    )
    return _ivf_probe(probes_en, cents, assigned, kdf)


def append_to_ivf_index(
    spark: SparkSession, path: str, new_vectors: DataFrame
) -> None:
    """Add a batch to a persisted IVF index WITHOUT retraining: assign
    ``new_vectors`` (vec_id, embedding) against the index's frozen
    centroids and append the resulting postings into the existing
    ``centroid_id=…`` partition directories.

    This is the FAISS train-once/add-forever serving shape: at 100 TB a
    nightly crawl delta is a few billion vectors — re-running Lloyd over
    the whole corpus for every delta is a full-corpus job, while this
    append touches only the delta (``vector.assign_centroids`` against
    the ≤k-row centroid table, its kernel sized by ``pair_kernel`` on
    the postings as at the index build, one shuffle to co-locate each
    inverted list's additions, and a partitioned append that writes
    exactly one new file per touched list). Identity contract (pinned by s09's
    cross-engine oracle and tests/test_round10_ops.py):
    ``append(A, B)`` produces row-identical postings to indexing A∪B in
    one shot against the SAME A-trained quantizer. Centroid drift — the
    quantizer getting stale as appended data shifts the distribution —
    is handled by the scheduled ``save_ivf_index`` rebuild, not by this
    path; ``compact_ivf_postings`` handles the small-file accumulation
    of many appends.

    Quantization is auto-detected from the existing postings schema
    (a driver-side footer read, no job), so appends can't silently mix float
    and int8 postings in one index.
    """
    from final_project_big_data_spark.operators.vector import (
        assign_centroids,
        normed,
        pair_kernel,
    )

    cents = read_parquet(spark, os.path.join(path, "centroids"))
    postings_path = os.path.join(path, "postings")
    quantized = "q" in read_parquet(spark, postings_path).columns
    assigned = assign_centroids(
        normed(new_vectors, "vec_id"), cents, pair_kernel(postings_path)
    )
    batch = (
        _quantized_postings(assigned)
        if quantized
        else assigned.select("vec_id", "v", "nv", "centroid_id")
    )
    (
        batch.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(postings_path)
    )


def append_to_lsh_index(
    spark: SparkSession, path: str, new_vectors: DataFrame
) -> None:
    """Add a batch to the persisted LSH hash tables: sign ``new_vectors``
    (vec_id, embedding) with the SAME seeded hyperplanes (they depend
    only on dim/planes/seed, never on the corpus) and append into the
    existing ``bucket=…`` partitions. Because the hash function is
    corpus-independent, ``append(A, B)`` is row-identical to
    ``fresh(A ∪ B)`` — not just same-query-results but same index bytes
    modulo file layout; s08 pins that equality against the fresh-build
    oracle. Small-file accumulation across appends is handled by
    ``compact_ivf_postings(path, subdir="tables")``."""
    from final_project_big_data_spark.queries.similarity import _sign_vectors

    en = new_vectors.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    (
        _sign_vectors(en)
        .repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "tables"))
    )


def compact_ivf_postings(
    spark: SparkSession,
    path: str,
    subdir: str = "postings",
    max_files_per_list: int = 4,
) -> bool:
    """Re-list maintenance: when appends have fragmented any inverted
    list (partition directory) past ``max_files_per_list`` files, rewrite
    the whole postings dataset back to one file per list and swap it in;
    returns whether a rewrite happened.

    Query cost on a partitioned index is driven by files-per-probed-list
    (footer reads + task scheduling), which grows by one per append —
    the same listing pathology ``io.compact_files`` exists for, applied
    to the index layout (the threshold plays the role of q107's
    byte-derived plan: bounded files per list, so query planning cost is
    O(nprobe), not O(appends)). The rewrite is the append-side
    ``repartition(partition_col)`` + partitioned write into a sibling
    directory, then an atomic rename swap — readers opening the index
    mid-compaction see either the old or the new layout, never a
    half-deleted one (object-store deployments would publish a manifest
    instead; the layout contract is the same).
    """
    import shutil

    src = os.path.join(path, subdir)
    part_col = None
    worst = 0
    for d in os.listdir(src):
        full = os.path.join(src, d)
        if "=" in d and os.path.isdir(full):
            part_col = d.split("=", 1)[0]
            worst = max(worst, len(data_files(full)))
    if part_col is None or worst <= max_files_per_list:
        return False
    tmp = src + ".compacting"
    (
        read_parquet(spark, src)
        .repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(tmp)
    )
    old = src + ".old"
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)
    return True


def save_lsh_index(
    spark: SparkSession, sf: str, path: str, where=None
) -> None:
    """Persist s02's LSH hash tables: the signed corpus
    (vec_id, v, nv, bucket) partitioned by bucket — the same
    build-once/query-forever posture as the IVF index. With 2^planes
    buckets, a multiprobe query touches 1 + planes bucket directories
    and the scan PRUNES to them (partition pruning); the per-bucket
    repartition applies the same one-file-per-list lesson as the IVF
    postings write. ``where`` restricts the indexed slice (the base of
    the incremental path — later batches arrive via
    ``append_to_lsh_index``); the filter sits below the signing
    projection, so Catalyst pushes it into the scan."""
    from final_project_big_data_spark.queries.similarity import _lsh_signed

    signed = _lsh_signed(spark, sf)
    if where is not None:
        signed = signed.filter(where)
    (
        signed
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "tables"))
    )


def lsh_topk_with_index(
    spark: SparkSession, path: str, n_queries: int
) -> DataFrame:
    """ANN top-k for the first ``n_queries`` corpus vectors against the
    persisted LSH hash tables — s02's exact query plan over the loaded
    frame (shared ``_lsh_probe``), so results are row-identical to the
    fresh build (pinned by tests/test_indexing.py)."""
    from final_project_big_data_spark.queries.similarity import _lsh_probe

    signed = read_parquet(spark, os.path.join(path, "tables"))
    return _lsh_probe(signed.filter(F.col("vec_id") < n_queries), signed)
