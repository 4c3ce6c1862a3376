"""Full-registry self-verification sweep (run before every driver round).

Runs EVERY registered QuerySpec through both local harnesses at a given
scale factor:

- ``tests/oracle.py`` — the repo's stringify-and-sort differential check;
- ``tests/driver_mimic.py`` — the verification driver's pandas
  canonicalization, including its known failure modes (unhashable array
  cells, Decimal-vs-float64 drift, schema hazards).

Oracle-less specs are built and hazard-checked only (the driver records
a rows-only row for those). Exit code 1 if anything fails.

Usage::

    python -m tests.sweep_registry [sf_dir] [--max-rows=N] [--one-harness] [name_prefix ...]

``--max-rows=N`` bounds the FULL-DIFF work per entry for high-volume
sweeps: entries whose result exceeds N rows are counted on both engines
(counts must match) and then value-diffed on a DETERMINISTIC ~N-row
sample (round 7, VERDICT r6 #4) instead of being skipped: an
md5-prefix filter over the row's cross-engine-stable columns
(int/bigint/string/date/boolean — types both engines render to
identical strings) is applied to BOTH engines' results, so the same
rows are selected on each side and the sample is value-diffed with the
driver-mimic harness. Entries whose schema has NO stable column (e.g.
all-double outputs, where float rendering differs between engines)
fall back to the old visible count-only ``skip`` line — never
silently. Without the flag every entry is fully diffed (the
sf0.01/sf0.1/10× posture).
"""

from __future__ import annotations

import json
import sys
import time

#: result-schema types whose CAST(x AS STRING) renders identically on
#: Spark and DuckDB — the sample filter may only hash these. Floats
#: ("1.0E-7" vs "1e-07"), timestamps (session-zone sensitive), decimals,
#: arrays and structs are excluded: the filter needs cross-engine
#: determinism, not injectivity (hash collisions merely co-select rows).
_STABLE_TYPES = ("byte", "short", "int", "integer", "bigint", "long",
                 "string", "date", "boolean")


def strip_trailing_order_by(sql: str) -> str:
    """Drop the TOP-LEVEL trailing ORDER BY from an oracle query.

    Found at the 1000× sweep (round 10): DuckDB executes a subquery's
    ORDER BY even under ``SELECT count(*) FROM (...)`` — q27's 600M-row
    full sort spilled past this host's 60 GB temp-disk budget and killed
    the sweep at the count GUARD, a query whose result cannot depend on
    order. Both high-volume paths (count guard, sampled diff) are
    order-insensitive — the driver-mimic canonicalization sorts rows —
    so the outer ORDER BY is pure wasted work there. Depth/quote-aware
    scan: ORDER BYs inside parens (CTE bodies, window OVER clauses) or
    string literals are untouched, and a clause followed by LIMIT/OFFSET
    (where order IS semantics) is left alone.
    """
    upper = sql.upper()
    depth = 0
    in_str = False
    last = None
    i = 0
    while i < len(upper):
        ch = upper[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and upper.startswith("ORDER BY", i):
            last = i
        i += 1
    if last is None:
        return sql
    tail = upper[last:]
    if "LIMIT" in tail or "OFFSET" in tail:
        return sql
    return sql[:last]


def sample_predicates(df, fraction):
    """Deterministic cross-engine row sampler (round 7, VERDICT r6 #4).

    Returns ``(spark_pred_col, duckdb_pred_sql, stable_cols)`` selecting
    ~``fraction`` of rows IDENTICALLY on both engines, or ``None`` if the
    schema has no sample-stable column: rows pass when the first 8 hex
    chars of ``md5(concat_ws('|', stable cols cast to string))`` fall
    below the fraction's cut in [0, 16^8) — lexicographic comparison of
    fixed-length lowercase hex equals numeric comparison, and both
    engines skip NULLs in concat_ws and render the stable types to the
    same strings (verified in tests/test_sweep_sample.py).
    """
    from pyspark.sql import functions as F

    cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in _STABLE_TYPES
    ]
    if not cols:
        return None
    cut = format(max(1, int(fraction * 16**8)), "08x")
    spark_pred = (
        F.substring(
            F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
            1,
            8,
        )
        < F.lit(cut)
    )
    duck_cast = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    duck_pred = f"substr(md5(concat_ws('|', {duck_cast})), 1, 8) < '{cut}'"
    return spark_pred, duck_pred, cols


def freshness_text() -> tuple[str, list[str]]:
    """Render the per-entry driver-evidence freshness table (round 11,
    VERDICT r10 #8) as markdown; returns ``(text, failed_entries)``.

    Folds every CORRECTNESS_r*.json (the same fold the stalest-first
    rotation uses, ``__spark_entry__._driver_history``) into a table —
    status, last-verified round, age in rounds — so staleness is READ,
    not computed.
    """
    import importlib
    import os as _os

    sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), ".."))
    entry_mod = importlib.import_module("__spark_entry__")
    from final_project_big_data_spark.queries import all_specs

    specs = all_specs()
    hist = entry_mod._driver_history(specs)
    latest = max((r for _s, r in hist.values()), default=0)
    lines = [
        f"# Driver-evidence freshness (latest recorded round: r{latest})",
        "",
        "| entry | status | last driver round | age (rounds) |",
        "|---|---|---|---|",
    ]
    failed = []
    for name in sorted(specs):
        status, rnd = hist.get(name, ("never", 0))
        age = latest - rnd if rnd else "—"
        lines.append(f"| `{name}` | {status} | r{rnd if rnd else '—'} | {age} |")
        if status == "failed":
            failed.append(name)
    never = [n for n in sorted(specs) if n not in hist]
    lines.append(
        f"\n{len(specs)} entries: "
        f"{sum(1 for n in specs if hist.get(n, ('never',))[0] == 'green')} green, "
        f"{len(failed)} failed, {len(never)} never driver-checked."
    )
    if failed:
        lines.append("FAILED (front of next rotation): " + ", ".join(failed))
    return "\n".join(lines) + "\n", failed


def write_freshness(path: str | None = None) -> list[str]:
    """Regenerate ``docs/FRESHNESS.md`` from the CORRECTNESS artifacts on
    disk (round 12, VERDICT r11 #4: the r11 file was committed one round
    stale because regeneration wasn't wired into the round close). Called
    from ``bench.py`` (runs every driver round) and from this module's
    sweep path, so any round activity after new driver rows land rewrites
    the file; ``tests/test_survey_sync.py`` pins committed-file currency.
    """
    import os as _os

    if path is None:
        path = _os.path.join(
            _os.path.dirname(__file__), "..", "docs", "FRESHNESS.md"
        )
    text, failed = freshness_text()
    with open(path, "w") as f:
        f.write(text)
    return failed


def freshness() -> int:
    """``--freshness``: print the evidence-age table AND refresh the
    committed ``docs/FRESHNESS.md``. Exit 1 if any entry has a recorded
    failure newer than its last green (the rotation would front-queue it
    anyway, but a red row here means the next driver round matters)."""
    text, failed = freshness_text()
    print(text)
    write_freshness()
    return 1 if failed else 0


def main() -> int:
    if "--freshness" in sys.argv:
        return freshness()
    # Spill to DISK, not tmpfs (round 7): the session factory's tmpfs
    # local dir is a bench-speed choice, but tmpfs pages COUNT AS RAM —
    # a 1000× sweep's ~45 GB shuffle spill sat beside the 38 GiB JVM
    # heap and the DuckDB budget and the kernel global-OOM-killed the
    # JVM at entry 153/168 (q90). Correctness sweeps are not timed, so
    # they take the disk path unconditionally. Must be the ENV VAR:
    # SPARK_LOCAL_DIRS overrides any spark.local.dir conf.
    import os as _os

    _os.environ["SPARK_LOCAL_DIRS"] = "/tmp/spark_sweep_local"
    args = [
        a
        for a in sys.argv[1:]
        if not a.startswith("--max-rows") and a != "--one-harness"
    ]
    max_rows = None
    for a in sys.argv[1:]:
        if a.startswith("--max-rows="):
            max_rows = int(a.split("=", 1)[1])
    # --one-harness: run only the driver-mimic comparison (the
    # verification driver's authoritative pandas canonicalization) and
    # skip the redundant stringify harness — for high-volume sweeps where
    # each harness is a full Spark re-execution of the query. The
    # stringify harness still runs on every lower-volume sweep.
    one_harness = "--one-harness" in sys.argv
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]

    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.session import (
        get_spark,
        sized_conf,
        sized_driver_memory,
    )
    from tests.driver_mimic import compare_driver_style, hazards
    from tests.oracle import compare, duckdb_connect

    # Data-sized session (round 6): the fixed local[8]/8-partition session
    # was fine for sf0.01 but made high-volume sweeps needlessly slow and
    # spill-prone (8 threads / 8 partitions against a 600M-row 1000x
    # fact). Same sizing rules as bench.py; correctness is config-
    # independent — that is the point of the sweep.
    #
    # Shuffle/spill COMPRESSION stays ON here, overriding get_spark's
    # local-perf "false": sweeps are correctness runs, and at the 1000x
    # volume a single fact-fact self-join (q95) spills >100 GiB
    # UNCOMPRESSED into the tmpfs local dir — /dev/shm filled to 92%,
    # the kernel OOM-killed the JVM, and the SIGKILL left the spill
    # behind to starve every later session (round-6 incident).
    spark = get_spark(
        app_name="sweep",
        extra_conf=sized_conf(sf) | {
            "spark.shuffle.compress": "true",
            "spark.shuffle.spill.compress": "true",
            # zstd for sweep shuffle/spill (round 13): the r12 single-pass
            # 1000x sweep failed exactly one entry — q95, "No space left
            # on device" at ~60 GB free during its 600M-row fact-join
            # spill under the default lz4. zstd's markedly better ratio
            # (guide §2.3) buys disk headroom on correctness runs where
            # codec CPU is not being timed; bench/timed sessions are
            # untouched.
            "spark.io.compression.codec": "zstd",
            # heap sized to volume too (round 6): 8g held 32 threads of
            # 600M-row SMJ sort buffers only until q79; see
            # session.sized_driver_memory
            "spark.driver.memory": sized_driver_memory(sf),
            # Bound shuffle-file retention (round 10): Spark deletes a
            # query's shuffle files only after the JVM garbage-collects
            # the ShuffleDependency (ContextCleaner), and a 38 GiB heap
            # under no allocation pressure can go the whole sweep without
            # a full GC — the round-10 single-pass 1000× sweep
            # accumulated 45 GB of dead shuffle files across 180 entries
            # and q95's own ~30 GB spill then hit "No space left on
            # device" on this 80 GB host. Same failure mode as any
            # long-lived multi-query driver at 100 TB: force the cleaner
            # to run on a volume-scale cadence instead of the 30min
            # default.
            "spark.cleaner.periodicGC.interval": "2min",
        },
    )
    con = duckdb_connect(sf)
    # Cap the oracle engine too (round 6): DuckDB defaults to 80% of RAM,
    # which double-books memory already promised to the sweep JVM — at the
    # 1000× probe the kernel OOM-killed the python process at 107 GB anon
    # RSS while the (idle but resident) 38 GiB heap sat next to it. Give
    # DuckDB what the JVM doesn't hold and a spill dir so exceeding the
    # cap degrades to disk spill instead of a SIGKILL.
    try:
        import os as _os

        _total_gb = _os.sysconf("SC_PAGE_SIZE") * _os.sysconf(
            "SC_PHYS_PAGES"
        ) >> 30
        _heap_gb = int(sized_driver_memory(sf).rstrip("g"))
        # JVM RSS exceeds -Xmx (metaspace, code cache, Arrow/netty
        # off-heap, Python workers): a 38g-heap sweep JVM measured
        # ~46 GB anon. Budget ~10 GB of overhead on top of the heap, or
        # the kernel global-OOM-kills whichever process allocates last
        # (round 7: python at 44 GB during q96's oracle, java during
        # q90 — both with the "80% − heap" budget).
        _duck_gb = max(8, int(_total_gb * 0.8) - _heap_gb - 10)
        con.execute(f"SET memory_limit='{_duck_gb}GB'")
        con.execute("SET temp_directory='/tmp/duckdb_sweep_spill'")
    except Exception:
        pass
    specs = all_specs()
    failures: dict[str, str] = {}
    skipped: dict[str, int] = {}
    n_run = 0
    t0 = time.time()
    for name, spec in specs.items():
        if only and not any(name.startswith(p) for p in only):
            continue
        n_run += 1
        t1 = time.time()
        try:
            df = spec.builder(spark, sf)
        except Exception as exc:
            failures[name] = f"build crash: {type(exc).__name__}: {exc}"
            print(f"FAIL {name}: {failures[name]}", flush=True)
            continue
        if spec.oracle is None:
            try:
                haz = hazards(df)
                n = df.count()
            except Exception as exc:
                failures[name] = f"exec crash: {type(exc).__name__}: {exc}"
                print(f"FAIL {name}: {failures[name]}", flush=True)
                continue
            if haz:
                failures[name] = f"rows-only schema hazards: {haz}"
                print(f"FAIL {name}: {failures[name]}", flush=True)
            else:
                print(
                    f"ok   {name} (rows-only, {n} rows, "
                    f"{time.time()-t1:.1f}s)",
                    flush=True,
                )
            continue
        if max_rows is not None:
            try:
                n_spark = df.count()
            except Exception as exc:
                failures[name] = f"exec crash: {type(exc).__name__}: {exc}"
                print(f"FAIL {name}: {failures[name]}", flush=True)
                continue
            if n_spark > max_rows:
                unordered = strip_trailing_order_by(spec.oracle)
                n_duck = con.execute(
                    f"SELECT count(*) FROM ({unordered})"
                ).fetchone()[0]
                if n_spark != n_duck:
                    failures[name] = (
                        f"row-count mismatch at skip guard: "
                        f"spark {n_spark} vs duckdb {n_duck}"
                    )
                    print(f"FAIL {name}: {failures[name]}", flush=True)
                    continue
                preds = sample_predicates(df, max_rows / n_spark)
                if preds is None:
                    skipped[name] = n_spark
                    print(
                        f"skip {name} (result {n_spark} rows > "
                        f"--max-rows={max_rows} and no sample-stable "
                        f"column: counts match, value diff deferred to "
                        f"the unbounded lower-volume sweep, "
                        f"{time.time()-t1:.1f}s)",
                        flush=True,
                    )
                    continue
                spark_pred, duck_pred, s_cols = preds
                rep = compare_driver_style(
                    spec.builder(spark, sf).filter(spark_pred),
                    con,
                    f"SELECT * FROM ({unordered}) WHERE {duck_pred}",
                )
                if rep["ok"]:
                    print(
                        f"samp {name} (counts match at {n_spark} rows; "
                        f"~{max_rows}-row deterministic sample on "
                        f"{s_cols} value-diffed ok, "
                        f"{time.time()-t1:.1f}s)",
                        flush=True,
                    )
                else:
                    failures[name] = (
                        f"sampled value diff: {rep.get('error')} "
                        f"{rep.get('first_diffs', '')}"
                    )
                    print(f"FAIL {name}: {failures[name]}", flush=True)
                continue
        if one_harness:
            rep1 = {"ok": True}
            rep2 = compare_driver_style(df, con, spec.oracle)
        else:
            rep1 = compare(df, con, spec.oracle)
            rep2 = compare_driver_style(
                spec.builder(spark, sf), con, spec.oracle
            )
        if rep1["ok"] and rep2["ok"]:
            print(f"ok   {name} ({time.time()-t1:.1f}s)", flush=True)
        else:
            msg = []
            if not rep1["ok"]:
                msg.append(f"harness: {rep1.get('error')}")
            if not rep2["ok"]:
                msg.append(
                    f"driver-mimic: {rep2.get('error')} "
                    f"{rep2.get('first_diffs', '')}"
                )
            failures[name] = "; ".join(msg)
            print(f"FAIL {name}: {failures[name]}", flush=True)

    print(
        f"\nswept {n_run} specs in {time.time()-t0:.0f}s, "
        f"{len(failures)} failures"
        + (
            f", {len(skipped)} count-only (> max-rows): "
            f"{sorted(skipped)}"
            if skipped
            else ""
        )
    )
    if failures:
        print(json.dumps(failures, indent=1))
    spark.stop()
    try:
        write_freshness()  # keep docs/FRESHNESS.md current (VERDICT r11 #4)
    except Exception:  # noqa: BLE001 — freshness must never fail the sweep
        pass
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
