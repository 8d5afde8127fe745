"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, comparing row count, sorted column names, per-column
dtypes (Spark ``df.dtypes`` vs the oracle's Arrow schema, both canonicalized
— see ``_canon_spark_dtype``/``_canon_arrow_dtype`` for the explicit
timestamp ltz/ntz policy), and an order-insensitive value hash (rows
canonicalized to strings, sorted).

``--hostile`` runs the Spark side on a deliberately adversarial session
(the factory's ``hostile`` profile) — non-UTC timezone, TIMESTAMP_NTZ as the
session timestamp type, none of the ``default`` profile's confs pre-set —
mimicking the external driver, which passes
its OWN SparkSession. Round 1 lost 22 queries and round 2 lost q22 to
confs that were only set in the session factory; hostile mode makes that
failure class reproducible locally. The dtype + hash checks under --hostile
strictly dominate the driver's gate.

``--workers N`` fans the catalog out over N subprocesses (each with its own
JVM + DuckDB connection); the PARENT is the single stdout writer, printing
one flushed result line per query, so the committed artifact can never lose
lines to interleaved/unflushed streams (the round-4 SELFCHECK_r4.txt defect:
~20 result lines per section vanished under ``2>&1 | grep``). Any query a
worker was assigned but never reported — crash, OOM, kill — is printed as an
explicit FAIL line, so printed lines ALWAYS equal assigned queries and the
footer is checkable with ``grep -c``. The footer carries the arithmetic:
``SELFCHECK-VALID printed=N expected=N MATCH``.

Oracle results (the DuckDB side — CC/pair-verify queries dominate the sweep
wall) are cached under ``.selfcheck_cache/`` keyed by (query name, sf dir,
oracle SQL text, parquet file sizes+mtimes); a cache hit skips only the
DuckDB run, never the Spark side. On any comparison problem the oracle is
re-run live before declaring FAIL, so a stale cache can only cost time,
not correctness. ``--no-cache`` disables it.

Usage:
  python tools/selfcheck.py [--hostile] [--workers N] [--no-cache]
                            [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         ".selfcheck_cache")


def _canon_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def _canon_spark_dtype(dt: str) -> str:
    """Spark dtype string → canonical type word.

    Policy: TIMESTAMP and TIMESTAMP_NTZ both canonicalize to ``timestamp``
    (matching DuckDB TIMESTAMP/TIMESTAMPTZ) — the driver accepted Spark-ltz
    vs DuckDB-ntz for every reader-produced timestamp in round 2, and the
    *instant* drift an ltz/ntz mixup causes is caught by the value hash
    (under --hostile, with a non-UTC session tz). decimal(p,0) counts as
    int, other decimals as float.
    """
    dt = dt.lower().strip()
    if dt.startswith("array<") and dt.endswith(">"):
        return "array<" + _canon_spark_dtype(dt[6:-1]) + ">"
    if dt.startswith("decimal"):
        try:
            scale = int(dt[dt.index("(") + 1 : -1].split(",")[1])
        except Exception:
            scale = 0
        return "int" if scale == 0 else "float"
    return {
        "tinyint": "int",
        "smallint": "int",
        "int": "int",
        "bigint": "int",
        "float": "float",
        "double": "float",
        "string": "str",
        "boolean": "bool",
        "date": "date",
        "binary": "bytes",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
    }.get(dt, dt)


def _canon_arrow_dtype(t) -> str:
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "array<" + _canon_arrow_dtype(t.value_type) + ">"
    if pa.types.is_decimal(t):
        return "int" if t.scale == 0 else "float"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_timestamp(t):
        return "timestamp"
    return str(t)


def oracle_dtypes(con, sql: str) -> dict[str, str]:
    """Canonical per-column dtypes of an oracle query via a LIMIT-0 Arrow
    schema (the DBAPI ``description`` type codes collapse all numerics to
    'NUMBER' — useless for the int-vs-float drift the driver's schema_match
    catches)."""
    schema = con.execute(f"SELECT * FROM ({sql}) __sub LIMIT 0").arrow().schema
    return {f.name.lower(): _canon_arrow_dtype(f.type) for f in schema}


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        "|".join(_canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Oracle-side cache
# ---------------------------------------------------------------------------


def _sf_fingerprint(sf_dir: str) -> str:
    parts = []
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
        except OSError:
            parts.append(f"{t}:missing")
    return "|".join(parts)


def _cache_key(name: str, sf_dir: str, sql: str) -> str:
    h = hashlib.sha256()
    h.update(name.encode())
    h.update(b"\0")
    h.update(os.path.abspath(sf_dir).encode())
    h.update(b"\0")
    h.update(sql.encode())
    h.update(b"\0")
    h.update(_sf_fingerprint(sf_dir).encode())
    return h.hexdigest()[:32]


def _cache_get(key: str):
    try:
        with open(os.path.join(CACHE_DIR, key + ".json")) as f:
            return json.load(f)
    except Exception:
        return None


def _cache_put(key: str, entry: dict) -> None:
    try:
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = os.path.join(CACHE_DIR, key + ".tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, os.path.join(CACHE_DIR, key + ".json"))
    except Exception:
        pass


def _run_oracle(con, sql: str):
    """Live DuckDB run → (n_rows, cols, dtypes, hash, rows)."""
    res = con.execute(sql)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    odtypes = oracle_dtypes(con, sql)
    return len(orows), ocols, odtypes, value_hash(orows, ocols), orows


# ---------------------------------------------------------------------------
# Single-query check
# ---------------------------------------------------------------------------


def check_one(name, fn, oracles, spark, con, sf_dir, use_cache=True) -> dict:
    """Run one catalog query against its oracle. Returns a result dict:
    {name, status: PASS|FAIL|ROWS, rows, secs, detail: [lines]}."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        sdtypes = {c.lower(): _canon_spark_dtype(t) for c, t in sdf.dtypes}
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return {"name": name, "status": "FAIL", "rows": 0,
                "secs": round(time.time() - t0, 1),
                "detail": [f"spark error: {e}"[:500]]}
    if name not in oracles:
        return {"name": name, "status": "ROWS", "rows": len(srows),
                "secs": round(time.time() - t0, 1), "detail": []}
    sql = oracles[name]

    cached = _cache_get(_cache_key(name, sf_dir, sql)) if use_cache else None
    if cached is not None:
        on, ocols, odtypes, ohash = (
            cached["n"], cached["cols"], cached["dtypes"], cached["hash"])
        problems = _compare(srows, scols, sdtypes, on, ocols, odtypes, ohash)
        if not problems:
            return {"name": name, "status": "PASS", "rows": len(srows),
                    "secs": round(time.time() - t0, 1), "detail": [],
                    "cached_oracle": True}
        # a stale/foul cache must never produce a FAIL: fall through to live

    try:
        on, ocols, odtypes, ohash, orows = _run_oracle(con, sql)
    except Exception as e:
        return {"name": name, "status": "FAIL", "rows": len(srows),
                "secs": round(time.time() - t0, 1),
                "detail": [f"duckdb error: {e}"[:500]]}
    if use_cache:
        _cache_put(_cache_key(name, sf_dir, sql),
                   {"n": on, "cols": ocols, "dtypes": odtypes, "hash": ohash})
    problems = _compare(srows, scols, sdtypes, on, ocols, odtypes, ohash)
    if problems and "value-hash mismatch" in problems[0]:
        problems += _sample_diff(srows, scols, orows, ocols)
    if problems:
        return {"name": name, "status": "FAIL", "rows": len(srows),
                "secs": round(time.time() - t0, 1), "detail": problems}
    return {"name": name, "status": "PASS", "rows": len(srows),
            "secs": round(time.time() - t0, 1), "detail": []}


def _compare(srows, scols, sdtypes, on, ocols, odtypes, ohash) -> list[str]:
    problems = []
    if len(srows) != on:
        problems.append(f"rowcount spark={len(srows)} oracle={on}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    else:
        for c in scols:
            if c in odtypes and sdtypes[c] != odtypes[c]:
                problems.append(f"dtype[{c}] spark={sdtypes[c]} oracle={odtypes[c]}")
    if not problems and value_hash(srows, scols) != ohash:
        problems.append("value-hash mismatch")
    return problems


def _sample_diff(srows, scols, orows, ocols) -> list[str]:
    so = sorted(
        "|".join(_canon_cell(r[i])
                 for i in sorted(range(len(scols)), key=lambda i: scols[i]))
        for r in srows
    )
    oo = sorted(
        "|".join(_canon_cell(r[i])
                 for i in sorted(range(len(ocols)), key=lambda i: ocols[i]))
        for r in orows
    )
    for a, b in zip(so, oo):
        if a != b:
            return [f"  spark : {a[:200]}", f"  oracle: {b[:200]}"]
    return []


def _emit(res: dict) -> None:
    tag = {"PASS": "PASS", "FAIL": "FAIL", "ROWS": "ROWS"}[res["status"]]
    suffix = " (no oracle)" if res["status"] == "ROWS" else ""
    cache = " (cached-oracle)" if res.get("cached_oracle") else ""
    print(f"{tag}  {res['name']}: {res['rows']} rows{suffix} "
          f"[{res['secs']}s]{cache}", flush=True)
    for p in res.get("detail", []):
        print(p, flush=True)


# ---------------------------------------------------------------------------
# Worker / parent modes
# ---------------------------------------------------------------------------


def run_inline(names, hostile, sf_dir, use_cache, json_out, n_threads=16) -> list[dict]:
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    from noaa_ais_glue_lakehouse_spark.session import get_spark

    if hostile:
        spark = get_spark("selfcheck-hostile", profile="hostile", cores=n_threads)
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = []
    for name in names:
        if name not in qs:
            res = {"name": name, "status": "FAIL", "rows": 0, "secs": 0.0,
                   "detail": ["unknown query name"]}
        else:
            res = check_one(name, qs[name], oracles, spark, con, sf_dir, use_cache)
        results.append(res)
        if json_out:
            print(json.dumps(res), flush=True)
        else:
            _emit(res)
    return results


def run_parallel(names, hostile, sf_dir, use_cache, workers) -> list[dict]:
    """Fan queries over worker subprocesses; the parent is the only stdout
    writer. Chunks are round-robin (heavy families are adjacent in catalog
    order, so striding spreads them). A worker that dies mid-chunk yields
    explicit FAIL rows for every unreported query of its chunk."""
    chunks = [names[i::workers] for i in range(workers)]
    chunks = [c for c in chunks if c]
    threads_per_worker = max(4, 32 // max(1, len(chunks)))
    results: dict[str, dict] = {}
    lock = threading.Lock()

    def _drive(chunk):
        cmd = [sys.executable, "-u", os.path.abspath(__file__), "--json",
               f"--spark-threads={threads_per_worker}"]
        if hostile:
            cmd.append("--hostile")
        if not use_cache:
            cmd.append("--no-cache")
        cmd.append(sf_dir)
        cmd.extend(chunk)
        logp = os.path.join(CACHE_DIR, f"worker_{os.getpid()}_{chunks.index(chunk)}.log")
        os.makedirs(CACHE_DIR, exist_ok=True)
        with open(logp, "wb") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    cwd=os.path.dirname(os.path.dirname(
                                        os.path.abspath(__file__))))
            for line in proc.stdout:
                line = line.strip()
                if not line:
                    continue
                try:
                    res = json.loads(line)
                except Exception:
                    continue
                with lock:
                    results[res["name"]] = res
                    _emit(res)
            proc.wait()
        for name in chunk:
            if name not in results:
                res = {"name": name, "status": "FAIL", "rows": 0, "secs": 0.0,
                       "detail": [f"worker exited (rc={proc.returncode}) before "
                                  f"reporting this query — see {logp}"]}
                with lock:
                    results[name] = res
                    _emit(res)

    ts = [threading.Thread(target=_drive, args=(c,)) for c in chunks]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return [results[n] for n in names if n in results]


def parse_cli(args: list[str]) -> dict:
    """Parse the CLI; accepts both ``--workers N`` (the documented space
    form — crashed before round 6) and ``--workers=N``; same for
    ``--spark-threads``."""
    hostile = "--hostile" in args
    json_out = "--json" in args
    use_cache = "--no-cache" not in args
    workers = 1
    n_threads = 16
    rest = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--workers":  # space form: --workers N
            workers = int(args[i + 1])
            i += 1
        elif a.startswith("--workers"):  # --workers=N or --workersN
            workers = int(a.split("=", 1)[1] if "=" in a else a[len("--workers"):])
        elif a == "--spark-threads":
            n_threads = int(args[i + 1])
            i += 1
        elif a.startswith("--spark-threads="):
            n_threads = int(a.split("=", 1)[1])
        elif a in ("--hostile", "--json", "--no-cache"):
            pass
        else:
            rest.append(a)
        i += 1
    return {
        "hostile": hostile,
        "json_out": json_out,
        "use_cache": use_cache,
        "workers": workers,
        "n_threads": n_threads,
        "rest": rest,
    }


def main() -> int:
    cli = parse_cli(sys.argv[1:])
    hostile = cli["hostile"]
    json_out = cli["json_out"]
    use_cache = cli["use_cache"]
    workers = cli["workers"]
    n_threads = cli["n_threads"]
    rest = cli["rest"]
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    only = rest[1:]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    all_names = list(entrymod.queries().keys())
    names = [n for n in all_names if not only or n in only]
    # names given on the CLI but unknown to the catalog still get a line
    names += [n for n in only if n not in all_names]

    if workers > 1 and not json_out:
        results = run_parallel(names, hostile, sf_dir, use_cache, workers)
    else:
        results = run_inline(names, hostile, sf_dir, use_cache, json_out, n_threads)

    n_pass = sum(1 for r in results if r["status"] == "PASS")
    n_fail = sum(1 for r in results if r["status"] == "FAIL")
    n_rows = sum(1 for r in results if r["status"] == "ROWS")
    if not json_out:
        print(f"\n{n_pass} pass, {n_fail} fail, {n_rows} rows-only", flush=True)
        printed = n_pass + n_fail + n_rows
        verdict = "MATCH" if printed == len(names) else "MISMATCH"
        print(f"SELFCHECK-VALID printed={printed} expected={len(names)} {verdict}",
              flush=True)
        if verdict != "MATCH":
            return 2
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
