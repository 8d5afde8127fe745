"""Catalog reads, traced: the query-side layers the lakehouse jobs never
call (near-dup detection, cosine LSH, sessionize, running sums, spatial
and sampling queries), timed through ``plans.catalog.queries()``.

Every traced run ends with one ``CatalogProbe``: it writes small seeded
``events``/``documents``/``embeddings`` tables, runs each query once to
warm up and check it, then times it ``REPS`` time(s). A query's time is
split into its plan build (``qs[name](spark, dir)``, which includes any
job a query runs while its plan is built) and its execution, forced to
the noop sink.

Checks: the event queries must match their DuckDB oracle over the same
files in row count and value hash. The near-duplicate queries are checked
in numpy against the synthesized tables instead (their exact oracles take
minutes on DuckDB): every pair q27 or q47 returns must reach the threshold
by exact token-set Jaccard or cosine, every pair q343 returns must be a
planted near-copy pair, and each must find at least ``MIN_RECALL`` of the
pairs that reach the threshold.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import math
import os
import statistics

import numpy as np

from noaa_ais_glue_lakehouse_spark.plans import catalog

import synth
from tracing import force

# per-layer metric -> the catalog queries it sums
LAYERS = {
    "dedup.minhash_s": ["q27_minhash_near_dups"],
    "dedup.winnow_s": ["q343_winnow_near_dups_capped"],
    "similarity.cosine_lsh_s": ["q47_cosine_dup_lsh"],
    "sessionize.query_s": ["q11_sessionize", "q12_session_rollup"],
    "ordering.running_sum_s": ["q35_running_total", "q172_max_concurrent_sessions"],
    "spatial.query_s": ["q19_haversine_jumps", "q38_geohash_encode"],
    "sampling.query_s": ["q24_sample_trajectory"],
}
NEAR_DUPS = ("q27_minhash_near_dups", "q343_winnow_near_dups_capped", "q47_cosine_dup_lsh")
JACCARD, COSINE = 0.8, 0.4  # the thresholds q27 and q47 use
MIN_RECALL = 0.9
REPS = 1
# (events, documents, embeddings)
SIZES = {"full": (50_000, 1_000, 1_000), "smoke": (2_000, 100, 100)}
EVENT_TABLES = ("events",)


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def value_hash(rows, cols: list[str]) -> str:
    """Order-independent hash of rows, columns taken by sorted name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    h = hashlib.sha256()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


class CatalogProbe:
    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.dir, self.seed = spark, os.path.join(work, "catalog"), seed
        self.sizes = SIZES[size]
        self.qs = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.tokens: list[set] = []
        self.cluster_pairs: set = set()
        self.cosine = np.zeros((0, 0))

    @property
    def names(self) -> list[str]:
        return [q for qs in LAYERS.values() for q in qs]

    def prepare(self) -> None:
        t = synth.write_catalog_tables(self.dir, self.seed, *self.sizes)
        self.tokens = [set(x.split()) for x in t["documents"].column("text").to_pylist()]
        ids = t["documents"].column("doc_id").to_numpy()
        members: dict[int, list[int]] = {}
        for doc, c in zip(ids, t["doc_cluster"]):
            members.setdefault(int(c), []).append(int(doc))
        self.cluster_pairs = {p for m in members.values() for p in itertools.combinations(m, 2)}
        vecs = np.array(t["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        self.cosine = vecs @ vecs.T

    def jaccard(self, a: int, b: int) -> float:
        return len(self.tokens[a] & self.tokens[b]) / len(self.tokens[a] | self.tokens[b])

    def _near_dups(self, name: str, rows) -> bool:
        got = {(r[0], r[1]) for r in rows}
        if name == "q47_cosine_dup_lsh":
            i, j = np.nonzero(np.triu(self.cosine >= COSINE, k=1))
            want = set(zip(i.tolist(), j.tolist()))
            exact = all(abs(self.cosine[a, b] - c) < 1e-3 and self.cosine[a, b] >= COSINE - 1e-4 for a, b, c in rows)
        else:
            want = {p for p in self.cluster_pairs if self.jaccard(*p) >= JACCARD}
            if name == "q27_minhash_near_dups":
                exact = all(abs(self.jaccard(a, b) - j) < 1e-4 and j >= JACCARD for a, b, j in rows)
            else:
                exact = got <= self.cluster_pairs
        return exact and len(want) > 0 and len(got & want) >= MIN_RECALL * len(want)

    def checks(self):
        """One op per query: build, collect, check."""
        import duckdb

        con = duckdb.connect()
        for t in EVENT_TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

        def check(name: str):
            def op() -> bool:
                df = self.qs[name](self.spark, self.dir)
                rows = [tuple(r) for r in df.collect()]
                if name in NEAR_DUPS:
                    return self._near_dups(name, rows)
                res = con.execute(self.oracles[name])
                cols = [d[0] for d in res.description]
                want = res.fetchall()
                same_cols = sorted(c.lower() for c in df.columns) == sorted(c.lower() for c in cols)
                return same_cols and len(rows) == len(want) and value_hash(rows, df.columns) == value_hash(want, cols)

            return op

        return [(f"catalog:{n}", check(n)) for n in self.names]

    def measure(self, spans) -> dict:
        """Traced, timed reps of every query; per-layer seconds as the sum
        over the layer's queries of the median rep."""
        build: dict[str, list[float]] = {}
        run: dict[str, list[float]] = {}
        for _ in range(REPS):
            for name in self.names:
                with spans.span(f"catalog.{name}", role="query"):
                    with spans.span("plan_build") as b:
                        df = self.qs[name](self.spark, self.dir)
                    with spans.span("noop") as r:
                        force(df)
                build.setdefault(name, []).append(b["end"] - b["start"])
                run.setdefault(name, []).append(r["end"] - r["start"])
        out = {m: sum(statistics.median(run[q]) for q in qs) for m, qs in LAYERS.items()}
        out["catalog.plan_build_s"] = sum(statistics.median(b) for b in build.values())
        return out
