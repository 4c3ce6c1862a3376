#!/usr/bin/env python
"""Value-diff t06 (and optionally other documents-only entries) between
Spark and the DuckDB oracle at the scaled word-disjoint corpus
(tools/docs_volume_probe.py construction) — the 1000×/100× scale-probe
dirs copy ``documents`` UNSCALED, so t05/t06's round-12 restructures
need THIS probe for at-volume correctness + timing evidence.

Usage: python tools/t06_volume_diff.py [dir] [entries...]
       (default /tmp/spark_graft_docs_volume_x100, t06_bigram_logprob)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_docs_volume_x100"
ENTRIES = sys.argv[2:] or ["t06_bigram_logprob"]

# significant digits the float compare honours (rtol 1e-5)
TOL_DIGITS = 5


def _sorted_rows(df):
    """Rows in a canonical order, so the compare does not depend on each
    entry's ORDER BY yielding a unique total order. The key is the
    non-float columns: near-equal floats could order differently across
    engines and mis-pair rows the tolerance check would accept. When every
    column is a float, the key is the floats rounded to the compare
    tolerance instead."""
    key = [c for c in df.columns if df[c].dtype.kind not in "fc"]
    if key:
        rows = df.sort_values(key, kind="mergesort")
    else:
        rounded = df.apply(
            lambda col: col.map(lambda v: float(f"{v:.{TOL_DIGITS}g}"))
            if col.dtype.kind == "f" else col
        )
        order = rounded.sort_values(list(df.columns), kind="mergesort").index
        rows = df.loc[order]
    return rows.reset_index(drop=True)


def main() -> None:
    import duckdb
    import pandas as pd

    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.session import get_spark

    spark = get_spark(app_name="t06_volume_diff")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # the corpus may be a single parquet file or a Spark directory write
    docs = f"{DIR}/documents.parquet"
    pat = docs if os.path.isfile(docs) else f"{docs}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pat}'")
    ok = True
    for name in ENTRIES:
        spec = all_specs()[name]
        t0 = time.perf_counter()
        sp = spec.builder(spark, DIR).toPandas()
        t_spark = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        du = con.execute(spec.oracle).df()
        t_duck = round(time.perf_counter() - t0, 1)
        sp = sp[sorted(sp.columns)]
        du = du[sorted(du.columns)]
        match = len(sp) == len(du)
        if match:
            try:
                du = du.astype(dict(sp.dtypes))
                sp, du = _sorted_rows(sp), _sorted_rows(du)
                pd.testing.assert_frame_equal(
                    sp, du, check_exact=False, rtol=10.0**-TOL_DIGITS
                )
            except Exception:  # noqa: BLE001 — dtype coercion (ValueError/
                # TypeError on nullable-int vs NaN) must report a mismatch,
                # not crash the probe (ADVICE r12)
                match = False
        print(
            json.dumps(
                {
                    name: {
                        "rows": len(sp),
                        "values_match": match,
                        "spark_sec": t_spark,
                        "duck_sec": t_duck,
                    }
                }
            ),
            flush=True,
        )
        ok = ok and match
    assert ok, "value mismatch at volume"
    spark.stop()


if __name__ == "__main__":
    main()
