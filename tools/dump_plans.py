"""Dump .explain('formatted') for every declared queries() key at
sf0.01 into $SPARK_GRAFT_PLANS_DIR (default plans/r16/) as
gate_<name>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> [only_name ...]

<tag> is 'before' or 'after'. Explain never executes the plan, so
this is safe to run while other work occupies the box.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

OUT = os.environ.get("SPARK_GRAFT_PLANS_DIR", "/root/repo/plans/r16")


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)

    import __spark_entry__ as entry_mod
    from hillview_spark import cache
    from hillview_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            txt = plan_text(fn(spark, sf_dir))
        except Exception as e:  # a plan we cannot build is itself a finding
            txt = f"EXPLAIN FAILED: {e}"
        with open(f"{OUT}/gate_{name}_{tag}.txt", "w") as f:
            f.write(txt)
        cache.release_all()
        print(name)
    spark.stop()


if __name__ == "__main__":
    main()
