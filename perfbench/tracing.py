"""Operation timing and the traced run's per-layer attribution.

Every timed operation goes through ``Ops.run``. With tracing off it is a
plain timer around the library call and its action. With tracing on it
also tags the operation's Spark jobs (``setJobGroup``), times the facade
call until it returns a DataFrame, times Catalyst planning
(``queryExecution().executedPlan()``), diffs the ``plans.cache`` registry
counters, and keeps spans in memory. After the session stops, Spark's plain
event log is folded by job group into per-operation scheduler, executor
and shuffle figures.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import traceback
from collections import OrderedDict
from dataclasses import dataclass, field


class CountingRegistry(OrderedDict):
    """Drop-in for ``plans.cache._PERSIST_CACHE`` that counts what the
    registry does: a hit moves its entry to the end, a miss stores a new
    entry, an eviction pops one."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.hits = self.misses = self.evictions = 0

    def move_to_end(self, key, last=True):
        self.hits += 1
        super().move_to_end(key, last)

    def __setitem__(self, key, value):
        if key not in self:
            self.misses += 1
        super().__setitem__(key, value)

    def popitem(self, last=True):
        self.evictions += 1
        return super().popitem(last)

    def pop(self, key, *default):
        if key in self:
            self.evictions += 1
        return super().pop(key, *default)

    def counts(self) -> tuple[int, int, int]:
        return self.hits, self.misses, self.evictions


def install_cache_counter():
    from vettore_spark.plans import cache

    if not isinstance(cache._PERSIST_CACHE, CountingRegistry):
        cache._PERSIST_CACHE = CountingRegistry(cache._PERSIST_CACHE)
    return cache._PERSIST_CACHE


def cached_mb(spark) -> float:
    """Sum of ``memSize`` over Spark's RDD storage info, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


@dataclass
class Op:
    id: str
    name: str
    round: int
    rows_in: int
    wall_s: float = 0.0
    ok: bool = False
    found: int = 0
    expected: int = 0
    spans: dict = field(default_factory=dict)  # name -> (start, end), epoch s
    cache: tuple = (0, 0, 0)
    stream_run_id: str | None = None
    progress: list = field(default_factory=list)


class Ops:
    """Runs operations, timed or untimed, and keeps one ``Op`` per timed
    operation. A check failure or an exception marks the operation failed;
    it never stops the run."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.ops: list[Op] = []
        self.untimed = self.untimed_failed = 0
        self.registry = install_cache_counter() if trace else None
        self._group("setup")

    def _group(self, gid: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def run(self, name, build, action, check, *, rows_in=0, rnd=0,
            timed=True):
        """``build()`` calls the library and returns a DataFrame;
        ``action(df)`` materialises it; ``check(out)`` returns
        ``(ok, found, expected)`` and runs outside the timer."""
        op = Op(id=f"op{len(self.ops):05d}", name=name, round=rnd,
                rows_in=rows_in)
        if timed:
            self._group(op.id)
        c0 = self.registry.counts() if self.registry is not None else None
        out = None
        t0, w0 = time.perf_counter(), time.time()
        try:
            df = build()
            w1 = time.time()
            if self.trace and not df.isStreaming:
                df._jdf.queryExecution().executedPlan()
            w2 = time.time()
            out = action(df)
            w3 = time.time()
            op.wall_s = time.perf_counter() - t0
            op.spans = {"op": (w0, w3), "build": (w0, w1), "plan": (w1, w2),
                        "action": (w2, w3)}
        except Exception:  # noqa: BLE001 — a failed operation is counted
            op.wall_s = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        if c0 is not None:
            op.cache = tuple(b - a for a, b in zip(c0, self.registry.counts()))
        self._group("check")
        if out is not None:
            if isinstance(out, dict):  # streaming gate
                op.stream_run_id = out["run_id"]
                op.progress = out["progress"]
                out = out["rows"]
            try:
                op.ok, op.found, op.expected = check(out)
            except Exception:  # noqa: BLE001 — a checker crash is a failure
                traceback.print_exc(file=sys.stderr)
        self._group("setup")
        if not op.ok:
            print(f"perfbench: {name} ({op.id if timed else 'untimed'}) failed",
                  file=sys.stderr)
        if timed:
            self.ops.append(op)
        else:
            self.untimed += 1
            self.untimed_failed += not op.ok
        return op

    def busy_s(self) -> float:
        return sum(o.wall_s for o in self.ops)

    def walls_by_name(self) -> dict[str, list[float]]:
        out: dict = {}
        for o in self.ops:
            out.setdefault(o.name, []).append(o.wall_s)
        return out


# -- event log fold ------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class JobStat:
    group: str
    start: float
    end: float = 0.0
    stages: set = field(default_factory=set)


def fold_event_log(log_dir: str) -> dict:
    """Per job group: job intervals, completed stages, tasks and task
    metrics, from the (only) plain event log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}")
    jobs: dict[int, JobStat] = {}
    stage_job: dict[int, int] = {}
    done_stages: set = set()
    per_stage: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobStat(props.get("spark.jobGroup.id", "none"),
                            ev["Submission Time"] / 1e3)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
                jobs[ev["Job ID"]] = j
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                done_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                s = per_stage.setdefault(ev["Stage ID"], dict.fromkeys(
                    ("tasks", "run_ms", "cpu_ms", "gc_ms", "read_b", "write_b",
                     "spill_b"), 0.0))
                s["tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s["write_b"] += sw.get("Shuffle Bytes Written", 0)
                s["spill_b"] += m.get("Disk Bytes Spilled", 0)
    groups: dict[str, dict] = {}
    for jid, j in jobs.items():
        g = groups.setdefault(j.group, {"jobs": [], "stages": 0, "tasks": 0,
                                        "run_ms": 0.0, "cpu_ms": 0.0,
                                        "gc_ms": 0.0, "read_b": 0.0,
                                        "write_b": 0.0, "spill_b": 0.0})
        g["jobs"].append((jid, j.start, j.end or j.start))
    for sid in done_stages:
        jid = stage_job.get(sid)
        if jid is None or sid not in per_stage:
            continue
        g = groups[jobs[jid].group]
        g["stages"] += 1
        for key, v in per_stage[sid].items():
            g[key] += v
    return groups


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
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
    return total * 1e3


def op_layers(op: Op, groups: dict) -> dict:
    """One operation's per-layer row. build + plan + job + driver = wall."""
    g = groups.get(op.stream_run_id or op.id, {})
    sp = op.spans
    if not sp:
        return {}
    wall = (sp["op"][1] - sp["op"][0]) * 1e3
    build = (sp["build"][1] - sp["build"][0]) * 1e3
    plan = (sp["plan"][1] - sp["plan"][0]) * 1e3
    job = _union_ms([(s, e) for _, s, e in g.get("jobs", [])], *sp["action"])
    row = {
        "wall_ms": wall, "collection.build_ms": build, "catalyst.plan_ms": plan,
        "scheduler.job_ms": job, "scheduler.driver_ms": wall - build - plan - job,
        "scheduler.jobs": len(g.get("jobs", [])),
        "scheduler.stages": g.get("stages", 0), "scheduler.tasks": g.get("tasks", 0),
        "executor.run_ms": g.get("run_ms", 0.0), "executor.cpu_ms": g.get("cpu_ms", 0.0),
        "executor.gc_ms": g.get("gc_ms", 0.0),
        "executor.offcpu_ms": g.get("run_ms", 0.0) - g.get("cpu_ms", 0.0),
        "shuffle.read_mb": g.get("read_b", 0.0) / 1e6,
        "shuffle.write_mb": g.get("write_b", 0.0) / 1e6,
        "shuffle.spill_mb": g.get("spill_b", 0.0) / 1e6,
        "cache.hits": op.cache[0], "cache.misses": op.cache[1],
        "cache.evictions": op.cache[2],
    }
    if op.progress:
        add = sum(p["durationMs"].get("addBatch", 0) for p in op.progress)
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in op.progress)
        last = op.progress[-1].get("stateOperators") or []
        row.update({
            "stateful.add_batch_ms": add, "stateful.commit_ms": trig - add,
            "stateful.batches": len(op.progress),
            "stateful.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
            "stateful.state_mb": sum(s.get("memoryUsedBytes", 0) for s in last) / 1e6,
        })
    return row


def spans(op: Op, groups: dict) -> list[dict]:
    """The operation's spans: op, its build/plan/action children, and each
    Spark job of its group under the span it started in."""
    if not op.spans:
        return []
    out = [{"name": op.name, "op": op.id, "parent": None,
            "start": op.spans["op"][0], "end": op.spans["op"][1]}]
    for part in ("build", "plan", "action"):
        s, e = op.spans[part]
        out.append({"name": part, "op": op.id, "parent": op.name,
                    "start": s, "end": e})
    b0, b1 = op.spans["build"]
    for jid, s, e in groups.get(op.stream_run_id or op.id, {}).get("jobs", []):
        parent = "build" if b0 <= s < b1 else "action"
        out.append({"name": f"job{jid}", "op": op.id, "parent": parent,
                    "start": s, "end": e})
    return out
