"""Source/sink breadth + engine facade + pipeline runner.

Covers: partitioned parquet with partition pruning (plan-proved), bucketed
tables with shuffle-free co-located joins (plan-proved), CSV/JSON/ORC
round-trips with declared schemas, the SQL text entry point, and the
reference-parity DAG runner.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark import io as eio
from final_project_big_data_spark.engine import Engine


def _plan(df) -> str:
    return df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune directories at plan
    time (PartitionFilters), not scan-and-discard."""
    out = str(tmp_path / "orders_by_status")
    orders = eio.load_table(spark, sf_dir, "orders")
    eio.write_parquet(orders, out, partition_by=["o_orderstatus"])

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    p = _plan(back)
    assert "PartitionFilters" in p and "o_orderstatus" in p.split("PartitionFilters", 1)[1].split("\n")[0]
    exact = (
        eio.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert back.count() == exact


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key: the join plan must contain no
    Exchange — co-location replaces the shuffle (the amortize-once layout
    for repeatedly-joined 100 TB facts)."""
    orders = eio.load_table(spark, sf_dir, "orders")
    li = eio.load_table(spark, sf_dir, "lineitem")
    eio.write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=4)
    eio.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=4,
    )
    # force SMJ (a broadcast would hide the bucketing win being tested)
    j = (
        spark.table("b_orders")
        .hint("merge")
        .join(spark.table("b_lineitem"), "o_orderkey")
    )
    p = _plan(j)
    assert "SortMergeJoin" in p, p
    assert "Arguments: hashpartitioning" not in p, p  # no shuffle exchange
    assert j.count() == li.count()


def test_csv_roundtrip_declared_schema(spark, sf_dir, tmp_path):
    path = str(tmp_path / "nation_csv")
    nation = eio.load_table(spark, sf_dir, "nation")
    eio.write_csv(nation, path)
    back = eio.read_csv(spark, path, "nation")
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_json_roundtrip_declared_schema(spark, sf_dir, tmp_path):
    path = str(tmp_path / "region_json")
    region = eio.load_table(spark, sf_dir, "region")
    eio.write_json(region, path)
    back = eio.read_json(spark, path, "region")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "supplier_orc")
    supplier = eio.load_table(spark, sf_dir, "supplier")
    eio.write_orc(supplier, path)
    back = eio.read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, supplier.collect())
    )


def test_engine_sql_matches_dataframe(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    via_sql = eng.sql(
        """
        SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    via_df = (
        eng.table("lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert via_sql == via_df


def test_engine_query_registry(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    assert eng.query("q16_distinct").count() >= 1


def test_reference_pipeline_runner(spark, tmp_path):
    """End-to-end DAG parity: prepare → train → score ∥ replay.

    Asserts the reference's output envelope schema (predict.py:37-44), that
    accuracy beats the majority class, and that the streaming leg scored
    every test row exactly once (checkpointed file sink).
    """
    from final_project_big_data_spark.runner import run_reference_pipeline

    res = run_reference_pipeline(
        spark, str(tmp_path / "wd"), n_rows=1200, streaming=True
    )
    assert res["envelope"] == ["Time", "Amount", "actual_label", "predicted_label"]
    assert res["accuracy"] > 0.9  # model quality itself is gated in test_ml
    assert res["n_streamed"] == res["n_test"]
    # the streamed sink is the batch-scored envelope, both directions
    # (m02's parity rule: the JSON round trip and chunking change no row)
    from final_project_big_data_spark.ml import pipeline as ml

    streamed = eio.read_parquet(spark, res["stream_out"])
    batch = ml.prediction_envelope(ml.score(
        ml.load_model(res["model_path"]), eio.read_parquet(spark, res["test_path"])
    ))
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_engine_stream_restart_adds_no_rows(spark, sf_dir, tmp_path):
    """Engine.stream's checkpointed parquet sink is exactly-once: a
    restart from the same checkpoint with no new input adds no row."""
    from final_project_big_data_spark.streaming import pipeline as P

    eng = Engine(spark, sf_dir)
    replay = P.replay_dir(spark, sf_dir, str(tmp_path / "replay"), n_batches=3)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    for _ in range(2):
        eng.stream(P.file_stream(spark, replay), P.score_events, sink, ckpt
                   ).awaitTermination()
        got = spark.read.parquet(sink)
        assert got.count() == got.select("event_id").distinct().count() == (
            eng.table("events").count()
        )


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact with a filtered dim must inject a
    dynamic-pruning subquery into the fact scan (DPP) — at 100 TB this is
    the difference between scanning 3 partitions and 3000."""
    out = str(tmp_path / "orders_part")
    orders = eio.load_table(spark, sf_dir, "orders")
    eio.write_parquet(orders, out, partition_by=["o_orderstatus"])
    fact = spark.read.parquet(out)
    # DPP requires a selective predicate on the dim side (an unfiltered dim
    # gives the planner no pruning signal)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    ).filter(F.col("label") == "finished")
    j = fact.join(dim, "o_orderstatus").select("o_orderkey", "label")
    p = _plan(j)
    assert "dynamicpruning" in p.lower(), p
    want = (
        eio.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert j.count() == want


SHARED_DIALECT = [
    # oracle SQL strings written in the Spark∩DuckDB common subset — the
    # same text must run through spark.sql() and match the DataFrame builder
    "q01_scan_project",
    "q02_filter_compare",
    "q03_filter_boolean",
    "q04_filter_like",
    "q05_case_when",
    "q06_join_inner",
    "q15_hash_aggregate",
    "q16_distinct",
    "q26_topk",
    "q27_sort_multikey",
    "q38_scalar_subquery",
]


@pytest.mark.parametrize("name", SHARED_DIALECT)
def test_sql_text_entry_point_parity(spark, sf_dir, name):
    """The SQL-text entry point (engine.sql) and the DataFrame builder are
    the same engine: running the query's oracle SQL through spark.sql must
    produce identical rows to the registry builder."""
    from final_project_big_data_spark.queries import all_specs

    spec = all_specs()[name]
    eng = Engine(spark, sf_dir)
    via_sql = sorted(map(tuple, eng.sql(spec.oracle).collect()))
    via_df = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
    assert via_sql == via_df


def test_json_quarantine_splits_bad_records(spark, sf_dir, tmp_path):
    """Malformed JSON lines land in the quarantine frame with the raw text;
    clean rows parse against the declared schema; nothing is dropped."""
    good_rows = (
        eio.load_table(spark, sf_dir, "nation")
        .select(F.to_json(F.struct("*")).alias("line"))
        .collect()
    )
    src = tmp_path / "mixed.jsonl"
    lines = [r.line for r in good_rows]
    bad_lines = ['{"n_nationkey": 999, "n_name": unquoted}', "not json at all"]
    lines = lines[:10] + [bad_lines[0]] + lines[10:] + [bad_lines[1]]
    src.write_text("\n".join(lines) + "\n")

    good, bad = eio.read_json_quarantine(spark, str(src), "nation")
    assert good.count() == len(good_rows)
    assert good.schema == eio.load_table(spark, sf_dir, "nation").schema
    captured = sorted(r._corrupt_record for r in bad.collect())
    assert captured == sorted(bad_lines)


def test_table_cache_survives_session_restart(sf_dir):
    """The table cache lives on the session object, so a session started
    after another stopped begins with an empty cache and never receives a
    frame bound to the stopped SparkContext. Pinned because the
    verification driver owns its own session lifecycle. Runs in a
    subprocess: the scenario must create and STOP real sessions, which
    would tear down the suite's shared session fixture if run in-process
    (getOrCreate returns the active session)."""
    import os
    import subprocess
    import sys

    script = f"""
import os, sys; sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from pyspark.sql import SparkSession
from final_project_big_data_spark.io import load_table
SF = {sf_dir!r}
s1 = SparkSession.builder.master("local[2]").appName("cache-r1").getOrCreate()
s1.sparkContext.setLogLevel("ERROR")
df1 = load_table(s1, SF, "region")
assert df1.count() > 0
s1.stop()
s2 = SparkSession.builder.master("local[2]").appName("cache-r2").getOrCreate()
s2.sparkContext.setLogLevel("ERROR")
assert s2 is not s1
assert getattr(s2, "_fpbd_tables", None) is None
df2 = load_table(s2, SF, "region")
assert df2 is not df1
assert df2.sparkSession is s2
assert df2.count() > 0
assert s2._fpbd_tables == {{(os.path.abspath(SF), "region"): df2}}
assert load_table(s2, SF, "region") is df2
s2.stop()
print("RESTART_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RESTART_OK" in out.stdout, out.stderr[-2000:]


def test_table_cache_is_per_session(spark, sf_dir):
    """A sibling ``newSession()`` shares the SparkContext but not the
    table cache: a DataFrame is bound to the session that created it, and
    the sibling's first ``load_table`` pins its own confs."""
    sib = spark.newSession()
    sib.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = eio.load_table(spark, sf_dir, "region")
    df_sib = eio.load_table(sib, sf_dir, "region")
    assert df_sib is not df
    assert df.sparkSession is spark
    assert df_sib.sparkSession is sib
    assert eio.load_table(sib, sf_dir, "region") is df_sib
    assert sib.conf.get("spark.sql.session.timeZone") == "UTC"


def test_zorder_layout_skips_both_dims(spark, sf_dir):
    """Z-order clustering (q104's layout rewrite) must yield per-file
    (partkey, suppkey) bounding boxes dramatically tighter than a
    single-key natural layout — the tight boxes ARE the data-skipping
    win: a filter on EITHER dimension prunes whole files from footer
    min/max stats. Measured as the summed normalized bbox area over 8
    range-partitioned "files": a contiguous 1/8th of the Z-curve covers
    ~1/8th of the key plane, while 1/8th of an orderkey-sorted table
    covers ALL of it (partkeys are uncorrelated with orderkey)."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.queries.layout import zvalue

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )

    def bbox_area_sum(df, key) -> float:
        parts = (
            df.repartitionByRange(8, key)
            .withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                F.min("l_partkey").alias("x0"),
                F.max("l_partkey").alias("x1"),
                F.min("l_suppkey").alias("y0"),
                F.max("l_suppkey").alias("y1"),
            )
            .collect()
        )
        gx0 = min(r.x0 for r in parts)
        gx1 = max(r.x1 for r in parts)
        gy0 = min(r.y0 for r in parts)
        gy1 = max(r.y1 for r in parts)
        span_x = max(gx1 - gx0, 1)
        span_y = max(gy1 - gy0, 1)
        return sum(
            ((r.x1 - r.x0) / span_x) * ((r.y1 - r.y0) / span_y) for r in parts
        )

    z = li.withColumn("zval", zvalue(F.col("l_partkey"), F.col("l_suppkey")))
    z_area = bbox_area_sum(z, "zval")
    natural_area = bbox_area_sum(li, "l_orderkey")
    # natural layout: every file spans the full plane (area ~= 8);
    # z layout: 8 curve segments tile it (area ~= 1, plus boundary slop)
    assert z_area < 0.5 * natural_area, (z_area, natural_area)


def test_zvalue_is_pure_jvm_bit_math(spark, sf_dir):
    """q104's z-value must stay inside whole-stage codegen — no Python
    evaluation node anywhere in the plan."""
    from final_project_big_data_spark.queries import all_specs

    df = all_specs()["q104_zorder_layout"].builder(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_write_zordered_footer_stats_tight(spark, sf_dir, tmp_path):
    """write_zordered must produce parquet whose PER-FILE footer min/max
    (the stats engines actually prune on — read back with pyarrow, not
    inferred) box BOTH clustered columns tightly: summed normalized bbox
    area < half the natural-order write's. Also sanity-pins that the
    rewrite is content-preserving."""
    import glob

    import pyarrow.parquet as pq

    from final_project_big_data_spark.io import load_table, write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    zpath = str(tmp_path / "z")
    npath = str(tmp_path / "n")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=8)
    li.repartitionByRange(8, "l_orderkey").write.mode("overwrite").parquet(npath)

    def footer_area(path) -> float:
        boxes = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            lo = {c: None for c in ("l_partkey", "l_suppkey")}
            hi = {c: None for c in ("l_partkey", "l_suppkey")}
            for rg in range(md.num_row_groups):
                for c in lo:
                    st = md.row_group(rg).column(cols[c]).statistics
                    lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                    hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
            boxes.append((lo["l_partkey"], hi["l_partkey"],
                          lo["l_suppkey"], hi["l_suppkey"]))
        gx0 = min(b[0] for b in boxes)
        gx1 = max(b[1] for b in boxes)
        gy0 = min(b[2] for b in boxes)
        gy1 = max(b[3] for b in boxes)
        sx, sy = max(gx1 - gx0, 1), max(gy1 - gy0, 1)
        return sum(((b[1] - b[0]) / sx) * ((b[3] - b[2]) / sy) for b in boxes)

    assert footer_area(zpath) < 0.5 * footer_area(npath)
    # content-preserving: same multiset of rows
    back = spark.read.parquet(zpath)
    assert back.count() == li.count()
    assert back.exceptAll(li).count() == 0


def test_compact_files_right_sizes_and_preserves_rows(spark, sf_dir, tmp_path):
    """compact_files must collapse a many-small-files dataset to the
    byte-derived file count, preserve the row multiset, and (with
    sort_cols) leave per-file footer ranges disjoint-ish (clustered)."""
    import glob
    import os

    from final_project_big_data_spark.io import compact_files, load_table

    li = load_table(spark, sf_dir, "lineitem")
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.mode("overwrite").parquet(frag)  # tiny files
    n_small = len(glob.glob(f"{frag}/*.parquet"))
    assert n_small == 64

    dst = str(tmp_path / "compacted")
    total = sum(
        os.path.getsize(p) for p in glob.glob(f"{frag}/*.parquet")
    )
    n = compact_files(spark, frag, dst, target_file_bytes=total // 4 + 1)
    files = glob.glob(f"{dst}/*.parquet")
    assert n == 4 and len(files) == 4
    back = spark.read.parquet(dst)
    assert back.count() == li.count()
    assert back.exceptAll(li).count() == 0

    # clustered compaction: sorted rewrite keeps footer ranges ordered
    dst2 = str(tmp_path / "clustered")
    compact_files(
        spark, frag, dst2, target_file_bytes=total // 4 + 1,
        sort_cols=["l_orderkey"],
    )
    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(f"{dst2}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            "l_orderkey"
        ]
        st = md.row_group(0).column(idx).statistics
        lo, hi = st.min, st.max
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append((lo, hi))
    spans.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # range-partitioned: files don't interleave


@pytest.mark.parametrize("dst", ["same", "inside", "outside"])
def test_compact_files_refuses_overlapping_dst(spark, tmp_path, dst):
    """An overwrite into src itself, or into a path nesting either way,
    would delete the input mid-read: refused with ValueError (not an
    assert, which ``python -O`` strips) before anything is read."""
    from final_project_big_data_spark.io import compact_files

    src = tmp_path / "data" / "src"
    src.mkdir(parents=True)
    target = {
        "same": src,
        "inside": src / "out",
        "outside": tmp_path / "data",
    }[dst]
    with pytest.raises(ValueError, match="disjoint"):
        compact_files(spark, str(src), str(target))


def test_engine_index_and_compact_facade(spark, sf_dir, tmp_path):
    """The round-9 facade methods delegate to the real operators: a
    built-then-queried index returns the fresh-build rows, and compact
    preserves content while hitting the planned file count."""
    from final_project_big_data_spark.engine import Engine
    from final_project_big_data_spark.queries import all_specs

    import pytest as _pytest

    eng = Engine(spark, sf_dir)
    idx = str(tmp_path / "lsh")
    eng.build_index("lsh", idx)
    got = eng.query_index("lsh", idx, 10).collect()
    want = all_specs()["s02_lsh_ann_topk"].builder(spark, sf_dir).collect()
    assert got == want
    with _pytest.raises(ValueError):
        eng.build_index("lsh", idx, quantize=True)
    with _pytest.raises(ValueError):
        eng.build_index("btree", idx)

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    eng.table("orders").repartition(8).write.parquet(src)
    n = eng.compact(src, dst, target_file_bytes=1 << 30)
    assert n == 1
    assert (
        spark.read.parquet(dst).count() == eng.table("orders").count()
    )
