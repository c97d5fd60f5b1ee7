"""Op timing, exact Spark job counts and tracing, all from outside the
package.

Every client op runs inside a span. A span gives its region a unique
Spark job group (``setJobGroup``) and, when it ends, asks the status
tracker which jobs ran in that group (``getJobIdsForGroup``). This
counts jobs exactly and launches no Spark job of its own.

A traced run also wraps the package's public methods (``instrument``)
so that calls made inside a pipeline or a store verb get their own
nested spans, and it enables Spark's event log, which ``parse_event_log``
reads after the session stops for job intervals and stage metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import time
import traceback


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` (epoch ms) clipped to
    [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Ledger:
    """In-memory record of spans: ``{id, name, parent, start, end, ...}``."""

    def __init__(self, sc):
        self.sc = sc
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, kind: str | None = None, **info):
        sc = self.sc
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        saved = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
        sc.setJobGroup(group, name)
        parent = self.current
        rec = {
            "id": sid, "name": name, "kind": kind, "phase": self.phase,
            "parent": parent["id"] if parent else None, "group": group,
            "ok": True, "rows": 0, "info": info, "children": [],
        }
        if parent:
            parent["children"].append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
            raise
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            rec["self_jobs"] = sorted(sc.statusTracker().getJobIdsForGroup(group))
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            self.spans.append(rec)

    def op(self, name: str, kind: str, fn, rows: int = 0, **info):
        """Run one client op; a raised error marks it failed and the run
        goes on. Returns ``(span, result)``."""
        result, holder = None, {}
        try:
            with self.span(name, kind, **info) as rec:
                holder["rec"] = rec
                rec["rows"] = rows
                result = fn(rec)
        except Exception:
            print(f"perfbench: op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        return holder["rec"], result

    def fail(self, rec: dict, why: str) -> None:
        rec["ok"] = False
        rec["error"] = why
        print(f"perfbench: op {rec['name']} failed: {why}", file=sys.stderr)

    def ops(self, phase: str = "timed") -> list[dict]:
        return [s for s in self.spans if s["kind"] and s["phase"] == phase]

    def named(self, name: str, phase: str = "timed") -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["phase"] == phase]


def all_jobs(rec: dict) -> list[int]:
    """Jobs of a span and of every span nested in it."""
    out = list(rec["self_jobs"])
    for c in rec["children"]:
        out += all_jobs(c)
    return out


# ---------------------------------------------------------------------------
# traced runs: nested spans around the package's public methods
# ---------------------------------------------------------------------------

IO_VERBS = (
    "upsert", "merge_when", "delete_where", "append", "reload_partitions",
    "overwrite_keyed", "compact", "vacuum", "lookup", "read_point",
    "count_where", "max_value", "read",
)


def _read_name(kwargs) -> str:
    if kwargs.get("version") is not None or kwargs.get("as_of_ts") is not None:
        return "io.read_version"
    if kwargs.get("where") is not None:
        return "io.read_key"
    return "io.read"


def _wrap(ledger: Ledger, owner, attr: str, name):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        n = name(kwargs) if callable(name) else name
        cur = ledger.current
        if cur is not None and cur["name"] == n:
            return orig(*args, **kwargs)  # the client op already spans it
        with ledger.span(n):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)


def instrument(ledger: Ledger) -> None:
    """Wrap the store verbs, the pipeline and its source phases."""
    from datapipelinerepo_spark.io import TableStore
    from datapipelinerepo_spark.plans import pipeline as P
    from datapipelinerepo_spark.sources import reference_shaped as RS

    for verb in IO_VERBS:
        _wrap(ledger, TableStore, verb, _read_name if verb == "read" else f"io.{verb}")
    _wrap(ledger, P.Pipeline, "run", "plans.pipeline")
    _wrap(ledger, P.DataSource, "load", "plans.pipeline.load")
    for cls in (RS.WeatherSource, RS.WebsiteEventsSource):
        _wrap(ledger, cls, "schedule", "plans.pipeline.gate")
        _wrap(ledger, cls, "extract", "plans.pipeline.extract")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.recordsRead": "records_read",
    "internal.metrics.output.bytesWritten": "bytes_written",
    "internal.metrics.output.recordsWritten": "records_written",
}


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from an uncompressed (possibly rolling) event log:
    ``{job_id: {start, end, group, tasks, run_ms, shuffle_read, ...}}``
    with times in epoch ms and stage metrics summed per job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"], "end": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = stages.setdefault(info["Stage ID"], {"tasks": 0})
                    m["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] = m.get(key, 0) + int(acc.get("Value") or 0)
    for sid, m in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in m.items():
                job[k] = job.get(k, 0) + v
    return jobs
