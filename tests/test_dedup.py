"""Property tests for dedup operators: planted duplicates must be found.

The fixture corpus has no duplicate texts (verified), so these tests plant
exact copies and word-level mutations into a temp sf-dir and re-run the
registered query builders on it.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark.queries import all_specs

N_PLANT = 10
ID_OFFSET = 1_000_000


@pytest.fixture(scope="module")
def planted_dir(spark, sf_dir, tmp_path_factory):
    """Copy of the sf-dir's documents with 10 exact dups + 5 near-dups."""
    out = str(tmp_path_factory.mktemp("planted"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = (
        docs.orderBy("doc_id")
        .limit(N_PLANT)
        .withColumn("doc_id", F.col("doc_id") + ID_OFFSET)
    )
    # near-dups: replace the word 'the' to mutate a few tokens
    near = (
        docs.orderBy("doc_id")
        .limit(5)
        .withColumn("doc_id", F.col("doc_id") + 2 * ID_OFFSET)
        .withColumn(
            "text",
            F.concat(F.regexp_replace("text", r"\bthe\b", "thy"), F.lit(" zzz")),
        )
    )
    docs.unionAll(exact).unionAll(near).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    for t in ("embeddings",):  # d06 reads embeddings; link unchanged
        shutil.copytree(
            f"{sf_dir}/{t}.parquet", os.path.join(out, f"{t}.parquet")
        ) if os.path.isdir(f"{sf_dir}/{t}.parquet") else shutil.copy(
            f"{sf_dir}/{t}.parquet", os.path.join(out, f"{t}.parquet")
        )
    return out


def test_exact_dedup_collapses_planted(spark, planted_dir):
    res = all_specs()["d01_exact_dedup"].builder(spark, planted_dir)
    dups = {r.doc_id: r.n_copies for r in res.filter(F.col("n_copies") > 1).collect()}
    # every planted copy collapses onto its original (min doc_id wins)
    assert len(dups) == N_PLANT
    assert all(v == 2 for v in dups.values())
    assert all(k < ID_OFFSET for k in dups)


def test_minhash_lsh_finds_exact_copies(spark, planted_dir):
    res = all_specs()["d03_minhash_lsh_pairs"].builder(spark, planted_dir)
    pairs = {(r.doc_a, r.doc_b) for r in res.collect()}
    found = sum(
        1 for i in range(N_PLANT) if any(a == i and b == i + ID_OFFSET for a, b in pairs)
    )
    # identical docs have identical minhash → same band, always a candidate
    assert found == N_PLANT


def test_ngram_jaccard_scores_near_dups_high(spark, planted_dir):
    res = all_specs()["d05_ngram_jaccard_pairs"].builder(spark, planted_dir)
    rows = {(r.doc_a, r.doc_b): r.jaccard for r in res.collect()}
    near = {
        (a, b): j
        for (a, b), j in rows.items()
        if b >= 2 * ID_OFFSET and a == b - 2 * ID_OFFSET
    }
    # mutated copies share most shingles → jaccard far above corpus baseline
    assert len(near) == 5
    assert all(j > 0.5 for j in near.values())


def test_simhash_near_dups_close(spark, planted_dir):
    df = all_specs()["d04_simhash"].builder(spark, planted_dir)
    sims = {r.doc_id: r.simhash for r in df.collect()}
    for i in range(5):
        orig, mut = sims[i], sims[i + 2 * ID_OFFSET]
        hamming = bin(orig ^ mut).count("1")
        assert hamming <= 8, f"doc {i}: hamming {hamming}"


def test_lsh_degenerate_bucket_cap(spark):
    """A band bucket above max_bucket is dropped BEFORE pair expansion;
    normal buckets are unaffected (d03's cap sits above fixture sizes)."""
    from final_project_big_data_spark.queries.dedup import lsh_candidate_pairs

    rows = [(i, 7) for i in range(10)]  # degenerate band: 10 docs
    rows += [(100, 9), (101, 9)]  # normal band: one pair
    rows += [(200, 11)]  # singleton band: no pair
    mh = spark.createDataFrame(rows, "doc_id long, band long")

    pairs = lsh_candidate_pairs(mh, "band", max_bucket=5).collect()
    assert {(r.doc_a, r.doc_b, r.band_key) for r in pairs} == {(100, 101, 9)}

    # cap above the planted bucket: all 45+1 pairs come back
    full = lsh_candidate_pairs(mh, "band", max_bucket=1024).collect()
    assert len(full) == 45 + 1


def test_star_cc_matches_label_propagation_on_deep_chain(spark):
    """large-star/small-star vs min-label propagation on the adversarial
    case for the latter: one long chain (diameter = n), plus a star and
    isolated nodes."""
    from pyspark.sql import functions as F

    from final_project_big_data_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(40, 80)]  # 41-node path
    star = [(5, i) for i in range(6, 15)]
    edges = spark.createDataFrame(chain + star, ["a", "b"])
    nodes = spark.createDataFrame(
        [(i,) for i in range(100)], ["id"]
    )  # 0-4, 15-39, 81-99 isolated
    lp = {
        r["id"]: r["cluster_id"]
        for r in connected_components(nodes, edges, max_iter=50).collect()
    }
    ss = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(nodes, edges).collect()
    }
    assert lp == ss
    assert ss[79] == 40 and ss[14] == 5 and ss[99] == 99


def test_prefix_filter_jaccard_no_false_negatives(spark, sf_dir):
    """d11's DuckDB oracle runs the SAME prefix-filter algorithm, so a
    shared pruning bug (a pair wrongly filtered before verification)
    would pass the oracle check on both engines. This cross-checks the
    full pipeline against brute-force all-pairs Jaccard computed in
    Python on the fixture corpus — pinning the prefix and size filters
    as lossless for the threshold."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.queries.dedup_text import _PPJ_T

    docs = {
        r.doc_id: frozenset(r.text.strip().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    ids = sorted(docs)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(docs[a] & docs[b])
            if inter == 0:
                continue
            j = inter / (len(docs[a]) + len(docs[b]) - inter)
            if j >= _PPJ_T:
                brute.setdefault(a, []).append(j)
    want = {
        a: (len(js), round(max(js), 4)) for a, js in brute.items()
    }
    got = {
        r.doc_id: (r.n_similar_later, r.max_jaccard)
        for r in all_specs()["d11_prefix_filter_jaccard"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def planted_dir_big(spark, sf_dir, tmp_path_factory):
    """Second-volume planted corpus (round 9, VERDICT r8 #2): ~2015 docs,
    crossing d03's derived-knob threshold (n ≥ 1000 → r=2, b=4 bands)
    and shrinking d05's derived bucket width, with the same 10 exact +
    5 near planted dups. Copies 1-3 prefix every word with a copy tag,
    so they share no shingles with the original (no accidental dups)."""
    out = str(tmp_path_factory.mktemp("planted_big"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = [docs]
    for c in (1, 2, 3):
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + c * 10_000)
            .withColumn(
                "text",
                F.expr(
                    "array_join(transform(split(trim(text), '\\\\s+'),"
                    f" w -> concat('c{c}', w)), ' ')"
                ),
            )
            .withColumn("n_chars", F.length("text"))
        )
    base = parts[0]
    for p in parts[1:]:
        base = base.unionAll(p)
    exact = (
        docs.orderBy("doc_id")
        .limit(N_PLANT)
        .withColumn("doc_id", F.col("doc_id") + ID_OFFSET)
    )
    near = (
        docs.orderBy("doc_id")
        .limit(5)
        .withColumn("doc_id", F.col("doc_id") + 2 * ID_OFFSET)
        .withColumn(
            "text",
            F.concat(F.regexp_replace("text", r"\bthe\b", "thy"), F.lit(" zzz")),
        )
        .withColumn("n_chars", F.length("text"))
    )
    base.unionAll(exact).unionAll(near).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def test_lsh_planted_duplicate_recall(spark, planted_dir, planted_dir_big):
    """d03 recall at TWO volumes with the derived band knob (r=1/b=8
    under 1k docs, r=2/b=4 above): exact copies collide in EVERY band
    (n_bands == b — which also proves the knob actually switched), and
    the word-mutated near-dups still surface as candidates."""
    for sf, b_expect in ((planted_dir, 8), (planted_dir_big, 4)):
        res = all_specs()["d03_minhash_lsh_pairs"].builder(spark, sf)
        rows = {(r.doc_a, r.doc_b): r.n_bands for r in res.collect()}
        exact_bands = [
            rows.get((i, i + ID_OFFSET)) for i in range(N_PLANT)
        ]
        assert all(nb == b_expect for nb in exact_bands), (sf, exact_bands)
        near_found = sum(
            1 for i in range(5) if (i, i + 2 * ID_OFFSET) in rows
        )
        assert near_found >= 4, (sf, near_found)


def test_jaccard_planted_duplicate_recall(spark, planted_dir, planted_dir_big):
    """d05 recall at TWO volumes with the derived bucket width (w≈32 at
    515 docs, w≈8 at 2015): the near-dups' +4-char mutation must survive
    the narrower buckets via the adjacent-bucket emission — the boundary
    case a single-bucket equi-join silently misses."""
    for sf in (planted_dir, planted_dir_big):
        res = all_specs()["d05_ngram_jaccard_pairs"].builder(spark, sf)
        rows = {(r.doc_a, r.doc_b): r.jaccard for r in res.collect()}
        near = [
            rows[(i, i + 2 * ID_OFFSET)]
            for i in range(5)
            if (i, i + 2 * ID_OFFSET) in rows
        ]
        assert len(near) == 5, (sf, len(near))
        assert all(j > 0.5 for j in near), (sf, near)


def test_edit_distance_planted_duplicate_recall(
    spark, planted_dir, planted_dir_big
):
    """d12 recall at TWO volumes (round 9): the word-mutated planted
    near-dups differ from their originals by a handful of 'the'→'thy'
    substitutions plus a 4-char suffix — edit distance far below the
    threshold — and must surface with the derived bucket width at both
    corpus sizes (the +4-char length change also exercises the
    adjacent-bucket emission at the narrower width)."""
    for sf in (planted_dir, planted_dir_big):
        res = all_specs()["d12_edit_distance_pairs"].builder(spark, sf)
        rows = {(r.doc_a, r.doc_b): r.edit_dist for r in res.collect()}
        near = [
            rows[(i, i + 2 * ID_OFFSET)]
            for i in range(5)
            if (i, i + 2 * ID_OFFSET) in rows
        ]
        assert len(near) == 5, (sf, len(near))
        assert all(0 < dist <= 40 for dist in near), (sf, near)
        # exact copies (distance 0) are caught too
        exact = sum(
            1 for i in range(N_PLANT) if rows.get((i, i + ID_OFFSET)) == 0
        )
        assert exact == N_PLANT, (sf, exact)


@pytest.fixture(scope="module")
def specs():
    return all_specs()


# ------------------------------------------------------------------- x08


def test_x08_degree_oriented_matches_naive_on_k4(spark, tmp_path):
    """K4 (complete graph on 4 suppliers via one shared part-family) has
    exactly C(4,3)=4 triangles; every node participates in 3. Exercises
    the orientation logic on a graph where every wedge closes."""
    rows = [(p, s, 50.0) for p in (1, 2, 3) for s in (10, 20, 30, 40)]
    df = spark.createDataFrame(
        rows, "l_partkey long, l_suppkey long, l_quantity double"
    )
    # The builder reads lineitem from the sf dir: write a minimal table
    # with the columns it touches plus schema-compatible padding.
    li = df.select(
        F.lit(1).cast("long").alias("l_orderkey"),
        "l_partkey",
        "l_suppkey",
        F.lit(1).alias("l_linenumber"),
        "l_quantity",
        F.lit(1.0).alias("l_extendedprice"),
        F.lit(0.0).alias("l_discount"),
        F.lit(0.0).alias("l_tax"),
        F.lit("N").alias("l_returnflag"),
        F.lit("O").alias("l_linestatus"),
        F.lit("1995-06-01").cast("timestamp_ntz").alias("l_shipdate"),
    )
    li.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = all_specs()["x08_triangle_count"].builder(spark, str(tmp_path))
    got = {(r.s_suppkey, r.n_triangles) for r in out.collect()}
    assert got == {(10, 3), (20, 3), (30, 3), (40, 3)}


def test_x08_triangle_sum_is_multiple_of_three(spark, sf_dir, specs):
    """Per-node participation counts sum to 3 × (number of triangles)."""
    out = specs["x08_triangle_count"].builder(spark, sf_dir)
    total = out.agg(F.sum("n_triangles")).first()[0]
    assert total is not None and total % 3 == 0


# ------------------------------------------------------------------- d13


def test_d13_conservation(spark, sf_dir, specs):
    """Survivors absorb the whole corpus: sum(n_merged) == corpus rows,
    survivor count == number of d07 clusters, and every survivor is its
    own cluster id (canonical = min member)."""
    d13 = specs["d13_dedup_apply"].builder(spark, sf_dir)
    d07 = specs["d07_dup_clusters"].builder(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    agg = d13.agg(
        F.sum("n_merged").alias("s"), F.count("*").alias("k")
    ).first()
    assert agg.s == n_docs
    assert agg.k == d07.select("cluster_id").distinct().count()
    # survivors are exactly the cluster ids
    surv = {r.doc_id for r in d13.select("doc_id").collect()}
    clus = {r.cluster_id for r in d07.select("cluster_id").distinct().collect()}
    assert surv == clus


# ------------------------------------------------------------------- d13
# Docs with < 2 words produce no shingles, so they never enter the
# minhash/cluster graph; d13 must union them back as singleton survivors
# or the "surviving corpus" silently loses rows. Pinned with
# a corpus that actually CONTAINS such docs — the sf fixtures don't.


def _write_short_doc_corpus(spark, tmp_path) -> str:
    rows = [
        (1, "alpha beta gamma delta", "en", "web", 22),
        (2, "alpha beta gamma delta", "en", "books", 22),  # dup of 1
        (3, "solo", "en", "web", 4),  # 1 word -> no shingles
        (4, "", "en", "web", 0),  # empty -> no shingles
        (5, "epsilon zeta eta theta iota", "de", "web", 27),
        (6, "  padded  ", "de", "web", 10),  # 1 word after trim
    ]
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/documents.parquet")
    )
    return str(tmp_path)


def test_d13_short_docs_survive_as_singletons(spark, tmp_path, specs):
    from tests.oracle import compare

    sf = _write_short_doc_corpus(spark, tmp_path)
    spec = specs["d13_dedup_apply"]
    out = spec.builder(spark, sf)
    rows = {r["doc_id"]: r for r in out.collect()}
    # conservation: every document is accounted for in exactly one survivor
    assert sum(r["n_merged"] for r in rows.values()) == 6
    # the shingle-less docs ARE survivors, each absorbing only itself
    for did in (3, 4, 6):
        assert rows[did]["n_merged"] == 1
    # the exact-dup pair merged under the min id
    assert rows[1]["n_merged"] == 2 and 2 not in rows
    # and the oracle replays the same corpus
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    report = compare(spec.builder(spark, sf), con, spec.oracle)
    assert report["ok"], report
    con.close()
