"""Measurements taken from outside the library.

- ``/proc``: CPU seconds and peak RSS of the benchmark's process tree
  (this interpreter, the local-mode JVM and its Python workers).
- Spark's REST API (traced runs only): per-stage times, task counts and
  byte counters of the jobs a unit launched.
- The executed (AQE final) physical plan: Exchange and Python-eval node
  counts.
- Spans: kept in memory, written once at the end of a traced run.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, role, cpu_s) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        rpar = data.rfind(")")
        comm = data[data.find("(") + 1 : rpar]
        fields = data[rpar + 2 :].split()
        # utime stime cutime cstime: reaped children (short-lived Python
        # workers) are folded into their parent's cutime/cstime
        cpu = sum(int(f) for f in fields[11:15]) / _TICK
        if comm == "java":
            role = "jvm"
        elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            role = "py_worker"
        else:
            role = "other"
        out[int(name)] = (int(fields[1]), role, cpu)
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (role, cpu_s) for ``root`` (default: this process) and its
    live descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    me = root or os.getpid()
    out, todo = {}, [me]
    while todo:
        pid = todo.pop()
        if pid in table:
            role = "driver" if pid == me else table[pid][1]
            out[pid] = (role, table[pid][2])
        todo.extend(children.get(pid, []))
    return out


def cpu_by_role() -> dict[str, float]:
    totals = {"driver": 0.0, "jvm": 0.0, "py_worker": 0.0, "other": 0.0}
    for role, cpu in tree().values():
        totals[role] += cpu
    totals["total"] = sum(totals.values())
    return totals


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS for every process in the tree."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """VmHWM summed over the live tree, in MiB."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark REST API


def _ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def flush(self) -> None:
        """Wait until the status store has seen every posted event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def last_job_id(self) -> int:
        self.flush()
        jobs = self.get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def unit_stats(self, after_job: int) -> dict:
        """Stage-level record of every job with id > ``after_job``."""
        self.flush()
        jobs = [j for j in self.get("/jobs") if j["jobId"] > after_job]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self.get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        for s in stages:
            s["start"] = _ms(s.get("firstTaskLaunchedTime") or s.get("submissionTime"))
            s["end"] = _ms(s.get("completionTime"))
            if s["shuffleReadBytes"] > 0:
                s["layer"] = "agg.merge"
            elif s["inputBytes"] > 0 or s["inputRecords"] > 0:
                s["layer"] = "agg.partials"
            else:
                s["layer"] = "other"
        return {"jobs": jobs, "stages": stages}

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = q["executorRunTime"]
        return top / med if med > 0 else 1.0


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# executed plan

_EXCHANGE = re.compile(r"(?:^|[\s+:-])(?:Broadcast)?Exchange\b")
_PY_EVAL = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|PythonMapInArrow"
    r"|FlatMapGroupsIn(?:Pandas|Arrow)|FlatMapCoGroupsIn(?:Pandas|Arrow)"
    r"|ArrowWindowPython|WindowInPandas|ArrowAggregatePython|AggregateInPandas)\b"
)


def plan_counts(df) -> tuple[int, int]:
    """(Exchange nodes, Python-eval nodes) of the plan ``df`` executed.
    Reused exchanges are not counted: they move no data."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    lines = text.splitlines()
    return (
        sum(1 for ln in lines if _EXCHANGE.search(ln)),
        sum(1 for ln in lines if _PY_EVAL.search(ln)),
    )


# ---------------------------------------------------------------------------
# spans


class Spans:
    """In-memory span log; ``dump`` writes it once, at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": start, "end": end, "attrs": attrs}
        )
        return len(self.spans) - 1

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, **extra, "spans": self.spans}, fh)
