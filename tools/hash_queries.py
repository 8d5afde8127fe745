"""Result-equivalence helper for optimization rounds.

Usage: python tools/hash_queries.py SF_DIR q47_cosine_dup_lsh [q55_ivf_topk ...]

Prints one JSON line {name: {"rows": n, "md5": hex}} where md5 is over the
sorted stringified row multiset — order-independent, so any plan rewrite
that preserves the result set hashes identically. Used to prove a rewrite
computes the same thing as the committed version (run at both trees, diff
the output).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from noaa_ais_glue_lakehouse_spark.plans import catalog
    from noaa_ais_glue_lakehouse_spark.session import get_spark

    spark = get_spark("hash-queries", profile="bench")

    qs = catalog.queries()
    out = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        rows = sorted(tuple(str(x) for x in r) for r in df.collect())
        out[name] = {
            "rows": len(rows),
            "md5": hashlib.md5(repr(rows).encode()).hexdigest(),
        }
    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
