"""Span tracing for the benchmark: one span per public call into an
engine module, with Spark's own task counters for that span.

Spans are kept in memory and summarised when the run ends. Each span
sets a Spark job group, so every job the call launches (from any
thread: Spark propagates the group to broadcast and AQE threads) is
attributed to it. Counters come from the application status store,
which is populated with the UI disabled.

``Tracer(None)`` is the untraced mode: ``span`` is a no-op and nothing
touches Spark, so untraced timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time

# fields reported per span, in output order
FIELDS = (
    "wall_s", "driver_s", "exec_run_s", "exec_cpu_s", "gc_s", "jobs", "stages",
    "tasks", "shuffle_write_mb", "spill_mb", "rows_out", "failed_tasks", "task_skew",
)

# the driver-log line Spark writes once per whole-stage codegen compile
# that failed and fell back to interpreted execution
FALLBACK_RE = re.compile(rb"Whole-stage codegen disabled for plan")


def covered_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarise(span: dict, jobs: list[dict]) -> dict:
    """Span record + its jobs' counters -> the FIELDS of one span.

    jobs: [{"start", "end" (epoch s), "stages": [stage dicts]}] where a
    stage dict has status, tasks, run_ms, cpu_ns, gc_ms, shuffle_write,
    spill, rows_out, failed, q50_ms, qmax_ms."""
    wall = span["end"] - span["start"]
    stages = [s for j in jobs for s in j["stages"] if s["status"] != "SKIPPED"]
    busy = covered_s([(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
    heaviest = max(stages, key=lambda s: s["run_ms"], default=None)
    skew = 0.0
    if heaviest is not None and heaviest["q50_ms"] > 0:
        skew = heaviest["qmax_ms"] / heaviest["q50_ms"]
    return {
        "wall_s": wall,
        "driver_s": wall - busy,
        "exec_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "exec_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
        "spill_mb": sum(s["spill"] for s in stages) / 2**20,
        "rows_out": span.get("rows", 0) + sum(s["rows_out"] for s in stages),
        "failed_tasks": sum(s["failed"] for s in stages),
        "task_skew": skew,
    }


class Tracer:
    """Records spans around engine calls. ``spark=None`` disables it."""

    def __init__(self, spark, log_path: str | None = None):
        self.spark = spark
        self.log_path = log_path
        self.spans: list[dict] = []
        self.collect_s = 0.0  # time spent reading counters (the overhead)
        self._seq = 0

    @property
    def on(self) -> bool:
        return self.spark is not None

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0):
        """Spans are flat: the spans of one op run back to back, so
        together they account for the op's wall time."""
        if not self.on:
            yield {}
            return
        sc = self.spark.sparkContext
        self._seq += 1
        rec = {"name": name, "op": op, "group": f"bench-{self._seq}", "log0": self.log_size()}
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["log1"] = self.log_size()
            self.spans.append(rec)

    def log_size(self) -> int:
        if self.log_path is None:
            return 0
        try:
            with open(self.log_path, "rb") as f:
                return f.seek(0, 2)
        except OSError:
            return 0

    def fallbacks(self, lo: int, hi: int) -> int:
        """Codegen fallback lines the driver log gained in [lo, hi)."""
        if self.log_path is None or hi <= lo:
            return 0
        with open(self.log_path, "rb") as f:
            f.seek(lo)
            return len(FALLBACK_RE.findall(f.read(hi - lo)))

    def _jobs_by_group(self) -> dict[str, list[dict]]:
        """Every finished job in the status store, with stage counters,
        grouped by job group."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        groups = {s["group"] for s in self.spans}
        out: dict[str, list[dict]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                s = store.lastStageAttempt(ids.apply(k))
                st = {
                    "status": s.status().toString(),
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(), "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.diskBytesSpilled(), "rows_out": s.outputRecords(),
                    "failed": s.numFailedTasks(), "q50_ms": 0.0, "qmax_ms": 0.0,
                }
                if st["status"] != "SKIPPED" and st["tasks"] > 1:
                    summ = store.taskSummary(ids.apply(k), s.attemptId(), q)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        st["q50_ms"], st["qmax_ms"] = rt.apply(0), rt.apply(1)
                stages.append(st)
            out.setdefault(g.get(), []).append({
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                "end": comp.get().getTime() / 1e3 if comp.isDefined() else 0.0,
                "stages": stages,
            })
        return out

    def report(self) -> list[dict]:
        """Per-span FIELDS (plus name/op/fallbacks), read once at
        the end of the run."""
        if not self.on:
            return []
        t = time.time()
        by_group = self._jobs_by_group()
        out = []
        for s in self.spans:
            r = summarise(s, by_group.get(s["group"], []))
            r.update(name=s["name"], op=s["op"], fallbacks=self.fallbacks(s["log0"], s["log1"]))
            out.append(r)
        self.collect_s += time.time() - t
        return out


def per_layer(report: list[dict], names: list[str]) -> dict[str, float]:
    """Median over ops of each span's FIELDS, keyed "<span>.<field>";
    a span the workload bypasses reports zeros."""
    out: dict[str, float] = {}
    for name in names:
        rows = [r for r in report if r["name"] == name]
        for f in FIELDS:
            out[f"{name}.{f}"] = statistics.median([r[f] for r in rows]) if rows else 0.0
    return out
