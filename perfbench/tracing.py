"""Benchmark-side tracing: spans around the calls into the program's layers,
and Spark/JVM counters read from outside the program.

Nothing here changes the program. Spans come from wrapping the layer
functions that the pipeline modules look up at call time; counters come
from Spark's status store (populated with the UI off) and the JVM's
management beans.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import itertools
import json
import time

from noaa_ais_glue_lakehouse_spark.pipelines import raw_to_staging, staging_to_curated

# Layer functions each pipeline module calls, by role:
# - "source": returns the op's input DataFrame; forced to the noop sink
# - "source_arg": receives the op's input DataFrame as argument ``index``
# - "write": partitioned table write; its input is forced first, so the
#   span splits into upstream compute and the write itself
# - "side": side output (quarantine, state snapshot), timed as a whole
LAYER_CALLS = {
    raw_to_staging: {
        "read_csv_with_header": ("readers", "source", None),
        "write_quarantine": ("writers", "side", None),
        "write_partitioned_parquet": ("writers", "write", 0),
    },
    staging_to_curated: {
        "read_state_snapshot_by_date": ("writers", "source", None),
        "prepare_seeded_union": ("operators.state", "source_arg", 1),
        "voyage_daily_partials": ("pipelines.staging_to_curated", "source_arg", 0),
        "write_partitioned_parquet": ("writers", "write", 0),
        "write_state_snapshot": ("writers", "side", None),
    },
}


def force(df) -> None:
    """Execute a DataFrame's full plan without storing its rows."""
    df.write.format("noop").mode("overwrite").save()


class Spans:
    """In-memory span log; one record per timed interval."""

    def __init__(self, workload: str, run: int):
        self.workload = workload
        self.run = run
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "run": self.run,
            **attrs,
        }
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.records.append(rec)

    def children(self, rec: dict) -> list[dict]:
        return [r for r in self.records if r["parent"] == rec["id"]]

    def layer_times(self, op: dict) -> dict:
        """Per-layer seconds inside one op span (see LAYER_CALLS roles)."""
        out = {"scan": 0.0, "upstream": 0.0, "write_self": 0.0, "side": 0.0}
        for rec in self.children(op):
            dur = rec["end"] - rec["start"]
            forced = sum(c["end"] - c["start"] for c in self.children(rec) if c["name"] == "noop")
            role = rec["role"]
            if role in ("source", "source_arg"):
                out["scan"] += forced
            elif role == "write":
                out["upstream"] += forced
                out["write_self"] += dur - forced
            else:
                out["side"] += dur
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


def _wrap(spans: Spans, fn, name: str, layer: str, role: str, index):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with spans.span(f"{layer}.{name}", layer=layer, role=role):
            if role in ("write", "source_arg"):
                with spans.span("noop"):
                    force(args[index])
            result = fn(*args, **kwargs)
            if role == "source":
                with spans.span("noop"):
                    force(result)
            return result

    return traced


@contextlib.contextmanager
def layer_spans(spans: Spans):
    """Record a span around every LAYER_CALLS call while the block runs."""
    saved = []
    for module, calls in LAYER_CALLS.items():
        for name, (layer, role, index) in calls.items():
            fn = getattr(module, name)
            saved.append((module, name, fn))
            setattr(module, name, _wrap(spans, fn, name, layer, role, index))
    try:
        yield
    finally:
        for module, name, fn in saved:
            setattr(module, name, fn)


@dataclasses.dataclass
class EngineSample:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    jit_s: float = 0.0


class Engine:
    """Spark stage counters per job group, and JVM GC/JIT time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._groups = itertools.count()
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def _jvm_ms(self) -> tuple[int, int]:
        return sum(g.getCollectionTime() for g in self._gcs), self._jit.getTotalCompilationTime()

    @contextlib.contextmanager
    def measure(self):
        """Tag the block's Spark jobs with a fresh job group; yields an
        EngineSample filled in when the block exits."""
        group = f"perfbench-{next(self._groups)}"
        sample = EngineSample()
        gc0, jit0 = self._jvm_ms()
        self.sc.setJobGroup(group, group)
        try:
            yield sample
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            gc1, jit1 = self._jvm_ms()
            sample.gc_s, sample.jit_s = (gc1 - gc0) / 1e3, (jit1 - jit0) / 1e3
            self._fill(group, sample)

    def _fill(self, group: str, s: EngineSample) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        s.jobs = len(jobs)
        stage_ids = {sid for j in jobs for sid in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])}
        d = {k: getattr(self.store, f"stageData$default${k}")() for k in range(2, 6)}
        for sid in stage_ids:
            attempts = self.store.stageData(sid, d[2], d[3], d[4], d[5])
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                s.tasks += st.numCompleteTasks()
                s.executor_run_s += st.executorRunTime() / 1e3
                s.input_bytes += st.inputBytes()
                s.output_bytes += st.outputBytes()
                s.shuffle_write_bytes += st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported for the JVM process")
