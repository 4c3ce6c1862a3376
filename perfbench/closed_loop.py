"""Closed-loop query workloads: one client runs registry queries back to
back, each built with its registry builder and run into the noop sink.

A run checks every query against its DuckDB oracle, which also compiles
every plan and warms the JVM, then measures whole tours in an order shuffled
per tour from the seed. The window ends at the first tour boundary after
``--seconds``, so every query contributes the same number of samples to the
latency distribution.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import spark_log
from bench import HEADLINE
from tools.scale_probe import PROBE

PROBE_COPIES = 10
# queries in flight during the correctness check (not the timed window)
CHECK_CLIENTS = 4


def _canon_double(expr: str) -> str:
    return f"CASE WHEN isnan({expr}) THEN 'NaN' ELSE printf('%.4f', round({expr}, 4) + 0.0) END"


def _canon(col: str, typ) -> str:
    """DuckDB rendering of one column under ``tests.oracle._canon_cell``'s
    rules: doubles rounded to 4 places with no negative zero, inside lists
    too; timestamps in UTC; everything else as text; NULL as 'NULL'."""
    q = f'"{col}"'
    t = str(typ).upper()
    if t in ("DOUBLE", "FLOAT"):
        expr = _canon_double(q)
    elif t in ("DOUBLE[]", "FLOAT[]"):
        expr = f"'[' || array_to_string(list_transform({q}, x -> {_canon_double('x')}), ',') || ']'"
    elif "TIME ZONE" in t:
        expr = f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    else:
        expr = f"CAST({q} AS VARCHAR)"
    return f"coalesce({expr}, 'NULL') AS {q}"


def oracle_diff(con, result_dir: str, oracle_sql: str) -> str | None:
    """Compare a Spark result written as parquet with the DuckDB oracle as
    multisets of canonical rows; None when they match, else the reason.

    The check of ``tests.oracle.compare`` (column names, row count, sorted
    canonical rows), evaluated inside DuckDB: ``compare`` collects both
    results into Python, which takes over a minute for the headline set at
    sf0.1 (q33 alone returns 600k rows) and does not fit a 10x result at
    all. Both sides are rendered by DuckDB, so a rendering difference from
    ``_canon_cell`` (timestamp text, for one) applies to both alike."""
    spark_rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    oracle_rel = con.sql(oracle_sql)
    if sorted(spark_rel.columns) != sorted(oracle_rel.columns):
        return f"columns {sorted(spark_rel.columns)} != {sorted(oracle_rel.columns)}"

    def canon(rel) -> str:
        types = dict(zip(rel.columns, rel.types))
        return ", ".join(_canon(c, types[c]) for c in sorted(rel.columns))

    n_s, n_o, only_s, only_o = con.sql(f"""
        WITH s AS (SELECT {canon(spark_rel)}
                   FROM read_parquet('{result_dir}/*.parquet')),
             o AS (SELECT {canon(oracle_rel)} FROM ({oracle_sql}))
        SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o),
               (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM o)),
               (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM s))
    """).fetchone()
    if n_s != n_o:
        return f"row count {n_s} != oracle {n_o}"
    if only_s or only_o:
        return f"{only_s} rows differ from the oracle"
    return None


def check_queries(spark, specs, queries, data_dir: str, out_dir: str) -> dict:
    """Run every query once into parquet and diff it with its oracle, with
    ``CHECK_CLIENTS`` queries in flight at a time. Doubles as the warm-up
    tour: it compiles and JITs every plan before the timed window, and the
    concurrent clients overlap that one-off work. Returns {query: reason}
    for mismatches and errors."""
    from tests.oracle import duckdb_connect

    con = duckdb_connect(data_dir)
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{out_dir}.duckdb'")

    def check(q: str) -> str | None:
        path = os.path.join(out_dir, q)
        try:
            specs[q].builder(spark, data_dir).write.mode("overwrite").parquet(path)
            cur = con.cursor()
            try:
                cur.execute("SET TimeZone='UTC'")
                return oracle_diff(cur, path, specs[q].oracle)
            finally:
                cur.close()
        except Exception as e:  # noqa: BLE001 - a failed query is a recorded failure
            return f"{type(e).__name__}: {e}"[:300]

    try:
        with ThreadPoolExecutor(max_workers=CHECK_CLIENTS) as pool:
            verdicts = dict(zip(queries, pool.map(check, queries)))
    finally:
        con.close()
    return {q: reason for q, reason in verdicts.items() if reason}


def _tour(spark, specs, order, data_dir: str) -> list[dict]:
    samples = []
    for q in order:
        s = {"query": q, "build0": time.time()}
        try:
            df = specs[q].builder(spark, data_dir)
            s["save0"] = time.time()
            df.write.mode("overwrite").format("noop").save()
            s["end"] = time.time()
        except Exception as e:  # noqa: BLE001 - counted in failed, loop goes on
            s["error"] = f"{type(e).__name__}: {e}"[:300]
        samples.append(s)
    return samples


def run(ctx, workload: str) -> dict:
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.schemas import TABLE_NAMES
    from final_project_big_data_spark.session import (
        sized_adaptive_enabled,
        sized_max_partition_bytes,
        sized_shuffle_partitions,
    )

    with ctx.phase("gen"):
        data_dir = gen.write_tables(ctx.path("sf0.1"), ctx.seed)
    queries = HEADLINE
    fixture_s = 0.0
    if workload == "probe_x10":
        queries = PROBE
        t = time.perf_counter()
        data_dir = gen.scale_copy(data_dir, ctx.path(f"x{PROBE_COPIES}"), PROBE_COPIES)
        fixture_s = time.perf_counter() - t
    layers = {"io.fixture_s": fixture_s}

    cores = ctx.cores
    parts = sized_shuffle_partitions(data_dir, cores=cores)
    conf = {
        "spark.sql.files.maxPartitionBytes": str(
            sized_max_partition_bytes(data_dir, cores=cores)),
        "spark.sql.adaptive.enabled": str(
            sized_adaptive_enabled(data_dir, cores=cores)).lower(),
    }
    specs = all_specs()

    def ready(spark) -> None:
        for name in TABLE_NAMES:
            load_table(spark, data_dir, name)

    spark, setup_s = ctx.setup(ready, shuffle_partitions=parts, conf=conf)
    setup_s += fixture_s

    with ctx.phase("check"):
        bad = check_queries(spark, specs, queries, data_dir, ctx.path("check"))

    rng = random.Random(ctx.seed)
    samples: list[dict] = []
    with ctx.phase("window"):
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < ctx.seconds:
            order = list(queries)
            rng.shuffle(order)
            samples += _tour(spark, specs, order, data_dir)
        elapsed = time.perf_counter() - t0

    ok = [s for s in samples if "error" not in s]
    lat = [s["end"] - s["build0"] for s in ok]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(ok) / elapsed,
        "latency_p50_s": ctx.pct(lat, 50),
        "latency_p90_s": ctx.pct(lat, 90),
    }
    result = {
        "attempted": len(samples) + len(queries),
        "failed": len(samples) - len(ok) + len(bad),
        "errors": bad | {s["query"]: s["error"] for s in samples if "error" in s},
        "e2e": e2e,
        "named": {"qps": e2e["throughput_per_s"],
                  "latency_p50_s": e2e["latency_p50_s"],
                  "latency_p90_s": e2e["latency_p90_s"]},
        "samples": len(lat),
        "layers": layers,
        "latencies_s": [[s["query"], s["end"] - s["build0"]] for s in ok],
    }
    if ctx.trace:
        with ctx.phase("trace"):
            layers.update(_traced_layers(ctx, ok))
            single = _single_thread_pass(ctx, specs, queries, data_dir, parts, conf, rng)
            result["single_thread"] = single
            ctx.tables.append(spark_log.format_columns(
                f"{ctx.workload} per query, {ctx.cores} threads vs local[1] "
                "(wall clock measured on shared cores)",
                SIDE_BY_SIDE, {f"{ctx.cores} threads": layers, "1 thread": single}))
    return result


SIDE_BY_SIDE = ("latency_mean_s", "queries.build_s", "spark.plan_s", "spark.exec_s",
                "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
                "spark.sched_delay_s", "spark.empty_task_ratio", "spark.shuffle_bytes")


def _query_layers(ok: list[dict], execs: list[dict]) -> dict[str, float]:
    """Build / plan / execute wall split of the sampled queries, plus the
    Spark layers of the executions their noop writes started."""
    mine, plan = [], []
    for s in ok:
        inside = [ex for ex in execs if s["save0"] <= ex["start"] <= s["end"]]
        mine += inside
        if inside:
            plan.append(min(ex["start"] for ex in inside) - s["save0"])
    n = max(len(ok), 1)
    out = spark_log.spark_layers(mine, n)
    out["queries.build_s"] = sum(s["save0"] - s["build0"] for s in ok) / n
    out["spark.plan_s"] = sum(plan) / n
    out["latency_mean_s"] = sum(s["end"] - s["build0"] for s in ok) / n
    return out


def _wall_table(lay: dict[str, float]) -> list[tuple[str, float]]:
    rows = [("queries.build_s", lay["queries.build_s"]),
            ("spark.plan_s", lay["spark.plan_s"]),
            ("spark.exec_s", lay["spark.exec_s"])]
    rows.append(("residual", lay["latency_mean_s"] - sum(v for _, v in rows)))
    return rows


def _traced_layers(ctx, ok: list[dict]) -> dict[str, float]:
    ctx.stop_session()
    lay = _query_layers(ok, spark_log.read_event_log(ctx.event_log_dir))
    ctx.tables.append(spark_log.format_table(
        f"{ctx.workload} wall time per query, {ctx.cores} threads",
        _wall_table(lay), lay["latency_mean_s"]))
    ctx.tables.append(spark_log.format_table(
        f"{ctx.workload} task time per query, {ctx.cores} threads",
        spark_log.task_time_table(lay), lay["spark.task_s"]))
    return lay


def _single_thread_pass(ctx, specs, queries, data_dir, parts, conf, rng) -> dict:
    """One traced tour on ``local[1]`` with the same plan-shaping confs, in
    the JVM the timed window warmed: counts should match the multi-thread
    pass; times are wall clock on shared cores, so their ratio is not a
    clean scaling figure."""
    log_dir = ctx.path("eventlog-local1")
    spark = ctx.new_session(shuffle_partitions=parts, master="local[1]",
                            conf=conf | spark_log.event_log_conf(log_dir))
    order = list(queries)
    rng.shuffle(order)
    samples = _tour(spark, specs, order, data_dir)
    ctx.stop_session()
    ok = [s for s in samples if "error" not in s]
    return _query_layers(ok, spark_log.read_event_log(log_dir))
