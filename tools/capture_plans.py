"""Capture ``explain("formatted")`` for catalog queries into plan files.

Usage:
  python tools/capture_plans.py OUT_DIR SUFFIX [sf_dir] [query ...]

Writes ``OUT_DIR/<query>_<SUFFIX>.txt`` per query (e.g. ``plans/r10``
``before``). With no query list, captures the bench HEADLINE set.
Explain only — nothing is executed, so this is cheap and safe to run
alongside other jobs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:]

    os.makedirs(out_dir, exist_ok=True)

    from noaa_ais_glue_lakehouse_spark.plans import catalog
    from noaa_ais_glue_lakehouse_spark.session import get_spark

    spark = get_spark("capture-plans", profile="bench")

    qs = catalog.queries()
    if not names:
        import bench

        names = bench.HEADLINE
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
