#!/usr/bin/env python
"""Dump ``explain("formatted")`` for registry queries (default out dir:
the git-ignored ``.plans_out/``).

Usage::

    python tools/plan_dump.py --out=.plans_out --suffix=_before [names...]

With no names, dumps every registry entry. ``FIRST`` entries are always
dumped first. Uses the bench session confs
(``session.sized_conf``) so the captured plan is the one the bench executes.
Plans are captured WITHOUT executing the query (analysis only), so this
is cheap enough to run for all ~196 entries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Entries with two distinct aggregates over different columns: their Expand
# and the exchange above it list columns in the hash order of expression
# sets, and those hashes include exprIds, which shift with what was built
# before (q113 numbers ~30k more when it runs ANALYZE than when it restores
# a stats snapshot). Built first, in this order, q95 dumps as it does alone
# and both dump the same in every full dump.
FIRST = ("q95_tpch_q21_waiting", "t10_contamination")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(
        a.lstrip("-").split("=", 1) for a in sys.argv[1:] if a.startswith("--") and "=" in a
    )
    out_dir = opts.get("out", ".plans_out")
    suffix = opts.get("suffix", "_before")
    sf_dir = opts.get("sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    os.makedirs(out_dir, exist_ok=True)

    from final_project_big_data_spark.queries import all_specs
    from final_project_big_data_spark.session import get_spark, sized_conf

    specs = all_specs()
    names = args or list(specs)
    names = [n for n in FIRST if n in names] + [n for n in names if n not in FIRST]
    spark = get_spark(app_name="plan_dump", extra_conf=sized_conf(sf_dir))
    failures = {}
    for name in names:
        if name not in specs:
            failures[name] = "not in registry"
            continue
        try:
            df = specs[name].builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record and continue
            failures[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
    print(f"dumped {len(names) - len(failures)}/{len(names)} plans to {out_dir}")
    for k, v in failures.items():
        print(f"  FAIL {k}: {v}")
    spark.stop()


if __name__ == "__main__":
    main()
