"""Spark-only steady-state timing of catalog queries (noop sink).

Usage: python tools/time_queries.py SF_DIR [--out JSON] [name ...]

With no names, times the whole catalog. Per query: one unrecorded
warm-up and three recorded noop-sink runs on the ``bench`` session
profile, median printed (``bench.warm_median``, the loop bench.py's drift
rerun uses). A query that raises records -1.0. selfcheck's [Ns] column
includes the DuckDB oracle, so use this for optimization targeting and
before/after A-B timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--out", help="write {name: median_sec} JSON here")
    ap.add_argument("names", nargs="*")
    # intermixed: query names may follow --out, as the usage line shows
    return ap.parse_intermixed_args(argv)


def main() -> None:
    args = parse_args()

    import bench
    from noaa_ais_glue_lakehouse_spark.plans import catalog
    from noaa_ais_glue_lakehouse_spark.session import get_spark

    spark = get_spark("time-queries", profile="bench")
    qs = catalog.queries()
    times: dict[str, float] = {}
    for name in args.names or qs:
        try:
            times[name] = bench.warm_median(spark, qs[name], args.sf_dir)
        except Exception:
            times[name] = -1.0
            traceback.print_exc()
            spark.catalog.clearCache()
        print(f"{times[name]:8.3f}  {name}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(times, fh, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
