"""Instrumentation read from outside the program.

- ``Rest``: Spark's monitoring REST API (``/stages``, ``/jobs``, ``/sql``,
  ``/executors``, ``/storage/rdd``), read between steps and turned into
  per-step deltas;
- ``tree_rss``: resident-memory high-water marks (``VmHWM``) of this
  process and every descendant (the JVM and its Python workers);
- ``make_listener``: a ``StreamingQueryListener`` that keeps every query
  progress event;
- ``Spans``: in-memory spans written out once at the end of a run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request

_SIZE = {"b": 1, "kib": 1 << 10, "mib": 1 << 20, "gib": 1 << 30, "tib": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}


def parse_metric(value: str) -> float:
    """A SQL-UI metric value as a number in base units (bytes, seconds,
    rows). Accepts plain counts ("1,234"), sizes ("5.2 KiB") and times
    ("1.3 s"), and the "total (min, med, max ...)\\n<total> (...)" form."""
    text = value.split("\n")[1] if value.startswith("total") and "\n" in value else value
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z.]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2).lower()
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class Rest:
    """Thin reader of the application's monitoring REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_jobs: set[int] = set()
        self.seen_sql: set[int] = set()
        self.cached_peak = 0

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_stages(self, seen: set) -> list[dict]:
        """Stages finished (complete or failed) that are not in ``seen``;
        adds them to it."""
        out = []
        for status in ("complete", "failed"):
            for s in self.get(f"/stages?status={status}"):
                k = (s["stageId"], s["attemptId"])
                if k not in seen:
                    seen.add(k)
                    out.append(s)
        return out

    def new_jobs(self) -> list[dict]:
        out = [j for j in self.get("/jobs") if j["jobId"] not in self.seen_jobs
               and j["status"] != "RUNNING"]
        self.seen_jobs.update(j["jobId"] for j in out)
        return out

    def new_sql(self) -> list[dict]:
        out = []
        offset = 0
        while True:
            page = self.get(f"/sql?details=true&planDescription=false&offset={offset}&length=500")
            out += [e for e in page if e["id"] not in self.seen_sql and e["status"] != "RUNNING"]
            if len(page) < 500:
                break
            offset += 500
        self.seen_sql.update(e["id"] for e in out)
        return out

    def heap_peak_bytes(self) -> int:
        ex = self.get("/executors")
        return max(
            (e.get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0) for e in ex
        )

    def sample_cached(self) -> int:
        cur = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("/storage/rdd"))
        self.cached_peak = max(self.cached_peak, cur)
        return cur

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage (1.0 for one task)."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


_PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython")


def python_node_totals(executions: list[dict]) -> tuple[float, float]:
    """(seconds Python workers ran, bytes exchanged with Python workers)
    summed over every Python-evaluating plan node of the executions."""
    secs = nbytes = 0.0
    for e in executions:
        for node in e.get("nodes", []):
            if not node.get("nodeName", "").startswith(_PY_NODES):
                continue
            for m in node.get("metrics", []):
                name = m.get("name", "")
                if name == "time to run Python workers":
                    secs += parse_metric(m.get("value", "0"))
                elif name.startswith(("data sent to Python workers", "data returned from Python")):
                    nbytes += parse_metric(m.get("value", "0"))
    return secs, nbytes


def written_files(executions: list[dict]) -> float:
    """Files written by the file-write commands of the executions."""
    return sum(
        parse_metric(m.get("value", "0"))
        for e in executions for node in e.get("nodes", [])
        for m in node.get("metrics", []) if m.get("name") == "number of written files"
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_rss(root: int | None = None) -> dict[str, float]:
    """VmHWM (peak resident set, MB) of each live process of the tree,
    keyed "<pid>:<name>"."""
    out = {}
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat: str, children: bool) -> int:
    f = stat.rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:15 if children else 13])


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(all, JIT) CPU seconds (user + system) used so far by the tree.

    *all* counts every live process, with the reaped children each has
    waited for (the Python workers the JVM's daemon forks and reaps);
    *JIT* is the share of the JVMs' compiler threads. Compiler threads
    must not exit while a run lasts (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or their CPU time would vanish with them."""
    total = jit = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += _cpu_ticks(stat, children=True)
        if not stat.startswith(f"{p} (java)"):
            continue
        for t in os.listdir(f"/proc/{p}/task"):
            try:
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    tstat = fh.read()
            except OSError:
                continue
            if "CompilerThre" in tstat[:tstat.rindex(")")]:
                jit += _cpu_ticks(tstat, children=False)
    return total / _TICK, jit / _TICK


def make_listener(sink: list):
    """A StreamingQueryListener appending one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            sink.append({
                "name": p.name,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": d,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming metrics over the progress events of one pass."""
    real = [p for p in progress if "triggerExecution" in p["ms"]]
    trig = [p["ms"]["triggerExecution"] / 1e3 for p in real]
    rows = sum(p["rows"] for p in real)
    return {
        "streaming.batches": float(len(real)),
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.batch_max_s": max(trig) if trig else 0.0,
        "streaming.add_batch_s": sum(p["ms"].get("addBatch", 0) for p in real) / 1e3,
        "streaming.commit_s": sum(
            p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0) for p in real
        ) / 1e3,
        "streaming.plan_s": sum(p["ms"].get("queryPlanning", 0) for p in real) / 1e3,
        "streaming.state_rows": float(max((p["state_rows"] for p in real), default=0)),
        "streaming.state_bytes": float(max((p["state_bytes"] for p in real), default=0)),
        "streaming.rows_per_s": rows / sum(trig) if trig and sum(trig) > 0 else 0.0,
    }


class Spans:
    """In-memory spans: name, start, end, parent, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str) -> int:
        self.items.append({
            "id": len(self.items), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        })
        self._stack.append(len(self.items) - 1)
        return len(self.items) - 1

    def end(self, sid: int) -> None:
        """Close ``sid`` and any child a raised exception left open."""
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            self.items[top]["end"] = now
            if top == sid:
                break

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.items, fh)
