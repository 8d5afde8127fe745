"""The benchmark's workloads: the paper's lakehouse jobs over real files.

A workload prepares its inputs (timed as set-up), then exposes one *pass*
as a list of ops. An op is one call into a pipeline's public function and
returns whether its output checked out. ``warmup_ops`` run once in set-up
(JIT, codegen cache, first partitions); ``final_checks`` run once after
the timed loop.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.pipelines import raw_to_staging, staging_to_curated

import synth

FIRST_DAY = dt.date(2024, 1, 1)
# the same fleet sails every day; anchored vessels ping ~1,200 times a day
SIZES = {
    "full": synth.FleetSize(vessels=2_000, anchored=4, pings=(10, 60)),
    "smoke": synth.FleetSize(vessels=12, anchored=1, pings=(50, 300)),
}
VOYAGE_KEY = ["MMSI", "BaseDateTime", "VoyageID"]


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums, no markers)."""
    return sum(size for _, size in data_files(path))


def data_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return out


def digest(df, cols: list[str]) -> tuple:
    """Row count and an order-independent sum of row hashes."""
    row_hash = F.xxhash64(*cols).cast("decimal(20,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(row_hash)).first())


class Ingest:
    """raw CSV -> staging + quarantine, one ``run_raw_to_staging`` per daily
    drop, into one growing staging table. Day 3 is in the drifted schema."""

    name = "ingest"
    kinds = {"ingest_day": 3}

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed, self.size = spark, work, seed, SIZES[size]
        self.staging = os.path.join(work, "staging")
        self.quarantine = os.path.join(work, "quarantine")
        self.drops: list[synth.Drop] = []

    def prepare(self) -> None:
        self.drops = synth.write_days(
            os.path.join(self.work, "raw"), self.seed, FIRST_DAY, 3, self.size, drift_days=(2,)
        )

    @property
    def rows_per_pass(self) -> int:
        return sum(d.lines for d in self.drops)

    @property
    def input_bytes(self) -> int:
        return sum(d.csv_bytes for d in self.drops)

    def read_bytes(self, kind: str) -> int:
        """Input file bytes one pass's ops of ``kind`` read."""
        return self.input_bytes

    def warmup_ops(self):
        return self.pass_ops()

    def pass_ops(self):
        return [("ingest_day", self._ingest(d)) for d in self.drops]

    def _ingest(self, drop: synth.Drop):
        def op() -> bool:
            got = raw_to_staging.run_raw_to_staging(
                self.spark, drop.path, self.staging, self.quarantine
            )
            return got == drop.expected

        return op

    def final_checks(self):
        def tables_hold_every_drop() -> bool:
            staged = self.spark.read.parquet(self.staging).count()
            quarantined = self.spark.read.option("header", True).csv(self.quarantine).count()
            return staged == sum(d.expected["rows_written"] for d in self.drops) and (
                quarantined == sum(d.expected["quarantined"] for d in self.drops)
            )

        return [tables_hold_every_drop]

    def stored_bytes(self) -> int:
        return tree_bytes(self.staging) + tree_bytes(self.quarantine)

    def output_dirs(self) -> list[str]:
        return [self.staging, self.quarantine]


class Curate:
    """staging -> curated: three incremental, sampled trajectory day windows,
    each seeded from the previous day's state snapshot, then the monthly
    voyage summary. Set-up writes every day with a full recompute (the
    reference) and windows day 1, so every timed window is seeded and every
    timed op overwrites partitions that already exist."""

    name = "curate"
    kinds = {"trajectory_window": 3, "voyage_summary": 1}
    all_days = [FIRST_DAY + dt.timedelta(days=i) for i in range(4)]

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed, self.size = spark, work, seed, SIZES[size]
        self.out = {k: os.path.join(work, k) for k in ("curated", "state", "partials", "summary")}
        self.staging = os.path.join(work, "staging")
        self.day_rows: list[int] = []
        self.reference: tuple = ()

    def prepare(self) -> None:
        self.day_rows = synth.write_staging(
            self.staging, self.seed, FIRST_DAY, len(self.all_days), self.size
        )

    @property
    def rows_per_pass(self) -> int:
        return sum(self.day_rows[1:])

    @property
    def input_bytes(self) -> int:
        """The whole staging table, which the stored tables cover."""
        return tree_bytes(self.staging)

    def read_bytes(self, kind: str) -> int:
        """Input file bytes one pass's ops of ``kind`` read: the windows read
        the staging days 2-4; the summary reads curated rows, not staging."""
        if kind != "trajectory_window":
            return 0
        return sum(
            tree_bytes(os.path.join(self.staging, f"year={d.year}", f"month={d.month}", f"day={d.day}"))
            for d in self.all_days[1:]
        )

    def warmup_ops(self):
        return [
            ("full_recompute", self._full),
            ("trajectory_window", self._window(self.all_days[0])),
            ("voyage_summary", self._summary),
        ]

    def pass_ops(self):
        return [("trajectory_window", self._window(d)) for d in self.all_days[1:]] + [
            ("voyage_summary", self._summary)
        ]

    def _window(self, day: dt.date):
        def op() -> bool:
            staging_to_curated.run_trajectory_window(
                self.spark, self.staging, self.out["curated"], self.out["state"],
                day.isoformat(), day.isoformat(), mode="incremental", sample=True,
            )
            return True

        return op

    def _summary(self) -> bool:
        staging_to_curated.run_voyage_summary_monthly(
            self.spark, self.out["curated"], self.out["partials"], self.out["summary"],
            FIRST_DAY.strftime("%Y-%m"),
        )
        return True

    def _full(self) -> bool:
        """The reference: every day in one ``mode="full"`` window, written
        where the incremental windows will overwrite it day by day."""
        staging_to_curated.run_trajectory_window(
            self.spark, self.staging, self.out["curated"], os.path.join(self.work, "state-full"),
            self.all_days[0].isoformat(), self.all_days[-1].isoformat(), mode="full", sample=True,
        )
        self.reference = digest(self.spark.read.parquet(self.out["curated"]), VOYAGE_KEY)
        return True

    def final_checks(self):
        read = self.spark.read.parquet

        def incremental_equals_full() -> bool:
            return digest(read(self.out["curated"]), VOYAGE_KEY) == self.reference

        def summary_counts_every_point() -> bool:
            total = read(self.out["summary"]).agg(F.sum("pointcount")).first()[0]
            return total == read(self.out["curated"]).count()

        return [incremental_equals_full, summary_counts_every_point]

    def stored_bytes(self) -> int:
        return sum(tree_bytes(p) for p in self.out.values())

    def output_dirs(self) -> list[str]:
        return list(self.out.values())


WORKLOADS = {w.name: w for w in (Ingest, Curate)}
