"""Span recording and per-layer Spark counters for the traced run.

Spans are kept in memory (name, start, end, parent, run id) and written
out when the run ends.  While a span is open its id is the Spark job
group, so every Spark job the call launches can be attributed to it
afterwards: job ids come from the status tracker, job intervals and stage
counters from Spark's monitoring REST API on loopback.

The untraced run uses :class:`NullTracer`, whose spans cost one context
manager and nothing else.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

#: Layer spans, named ``<module>.<function>`` after the dff call they wrap.
SPANS = (
    "compiler.compile_ruleset",
    "runner.validate",
    "runner.violations_count",
    "runner.verdicts_write",
    "runner.partition_metrics",
    "stats.column_stats",
    "checkpoint.plan_pending",
    "checkpoint.ViolationsSink.write",
    "checkpoint.CheckpointStore.append",
    "checkpoint.TableCheckpointStore.append",
    "tablefmt.Table.append",
    "tablefmt.Table.scan_added",
    "statsvalidate.validate_table_stats",
)

#: Counters recorded on every span (name -> unit), reported as the median
#: per call.
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "input_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "driver_gap_s": "s",
}

#: Ratios measured where the work happens (median per call).
RATIOS = (
    "runner.violations_count.core_busy_ratio",
    "statsvalidate.validate_table_stats.files_scanned_ratio",
    "tablefmt.Table.append.bytes_per_input_byte",
)

def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``."""
    out = [(f"{s}.{c}", u) for s in SPANS for c, u in COUNTERS.items()]
    return out + [(r, "ratio") for r in RATIOS]


class NullTracer:
    enabled = False
    recording = False

    @contextmanager
    def span(self, name: str):
        yield None

    def note(self, name: str, key: str, value: float) -> None:
        pass


class Tracer:
    """Records spans and sets the Spark job group for the open span."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.recording = True

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}-s{self._next}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "measured": self.recording,
            "notes": {},
        }
        self._next += 1
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def note(self, name: str, key: str, value: float) -> None:
        """Attach a measured value to the most recent span called ``name``."""
        for sp in reversed(self.spans):
            if sp["name"] == name:
                sp["notes"][key] = value
                return

    # ------------------------------------------------------ collection
    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def collect(self, timeout_s: float = 60.0) -> None:
        """Attach Spark counters to every span.  Waits until the status
        store has recorded the end of every job the spans launched."""
        tracker = self.sc.statusTracker()
        want = {
            sp["id"]: set(tracker.getJobIdsForGroup(sp["id"])) for sp in self.spans
        }
        all_ids = set().union(*want.values()) if want else set()
        deadline = time.time() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self._rest("/jobs")}
            done = all(
                i in jobs and jobs[i].get("completionTime") for i in all_ids
            )
            if done or time.time() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, list[dict]] = {}
        for st in self._rest("/stages"):
            if st.get("status") in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        # a stage that ran once is listed (as skipped) by later jobs that
        # reuse its shuffle output: count it under the first job only
        owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid].get("stageIds", []):
                owner.setdefault(sid, jid)
        for sp in self.spans:
            ids = sorted(i for i in want[sp["id"]] if i in jobs)
            c = dict.fromkeys(COUNTERS, 0.0)
            c["wall_s"] = sp["end"] - sp["start"]
            c["jobs"] = float(len(ids))
            intervals = []
            for jid in ids:
                j = jobs[jid]
                c["tasks"] += j.get("numCompletedTasks", 0)
                c["failed_tasks"] += j.get("numFailedTasks", 0)
                for sid in j.get("stageIds", []):
                    if owner.get(sid) != jid:
                        continue
                    for st in stages.get(sid, []):
                        c["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
                        c["input_bytes"] += st.get("inputBytes", 0)
                        c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                if j.get("submissionTime") and j.get("completionTime"):
                    intervals.append(
                        (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                    )
            covered = _covered(intervals, sp["start"], sp["end"])
            c["driver_gap_s"] = max(0.0, c["wall_s"] - covered)
            sp["counters"] = c

    def per_layer(self, cores: int) -> dict[str, float]:
        """Median per call of every counter over the measured spans; a span
        the workload never opens reports 0."""
        out: dict[str, float] = {}
        by_name: dict[str, list[dict]] = {}
        for sp in self.spans:
            if sp["measured"] and "counters" in sp:
                by_name.setdefault(sp["name"], []).append(sp)
        for s in SPANS:
            calls = by_name.get(s, [])
            for c in COUNTERS:
                vals = [sp["counters"][c] for sp in calls]
                out[f"{s}.{c}"] = statistics.median(vals) if vals else 0.0
        vc = by_name.get("runner.violations_count", [])
        out[RATIOS[0]] = _median(
            sp["counters"]["executor_run_s"] / (sp["counters"]["wall_s"] * cores)
            for sp in vc
        )
        out[RATIOS[1]] = _median(
            sp["notes"]["files_scanned"] / sp["notes"]["files_total"]
            for sp in by_name.get("statsvalidate.validate_table_stats", [])
            if sp["notes"].get("files_total")
        )
        out[RATIOS[2]] = _median(
            sp["notes"]["bytes_added"] / sp["notes"]["input_bytes"]
            for sp in by_name.get("tablefmt.Table.append", [])
            if sp["notes"].get("input_bytes")
        )
        return out

    def composed(self, op_name: str) -> list[float]:
        """Per measured ``op_name`` span, the summed wall of its direct
        children: the operation's latency without the benchmark's own
        bookkeeping between calls."""
        kids: dict[str, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids[sp["parent"]] = kids.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        return [
            kids.get(sp["id"], 0.0)
            for sp in self.spans
            if sp["name"] == op_name and sp["measured"]
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def _epoch(ts: str) -> float:
    """Spark REST timestamp (``2026-01-01T00:00:00.123GMT``) -> epoch s."""
    return datetime.strptime(
        ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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
