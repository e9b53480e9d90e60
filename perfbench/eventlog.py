"""Spark event-log parser for the traced run.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled`` and turns it into per-op layer numbers.

* A job belongs to the op whose span was open when it was submitted.
* A stage belongs to one layer, by the first rule that claims it:

  1. a JVM<->Python crossing it actually ran, by RDD scope name
     (``FlatMapGroupsInPandas`` bloom update, ``MapInPandas`` bloom probe,
     ``MapInArrow`` extraction, ``ArrowEvalPython`` murmur64 hashing).
     Scopes below a persisted RDD that an earlier stage materialized did
     not run and are ignored;
  2. its SQL execution writes a snapshot directory, by output path in the
     plan description (``frontier``, ``seen_delta``, ``fetched``, ``edges``);
  3. it ranks (``Window``, ``WindowGroupLimit``, ``TakeOrderedAndProject``)
     or scans the frontier: frontier select;
  4. it scans the robots table: politeness;
  5. it scans the pages table: extraction (the fetch side);

  and is unattributed otherwise. The tables a stage scans are those of the
  SQL plan's scan nodes whose metrics its tasks update.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

CROSSINGS = (
    ("FlatMapGroupsInPandas", "bloom.update"),
    ("MapInPandas", "bloom.probe"),
    ("MapInArrow", "extraction"),
    ("ArrowEvalPython", "hashing"),
)
WRITES = {
    "frontier": "frontier.write",
    "seen_delta": "store.seen_write",
    "fetched": "store.fetched_write",
    "edges": "store.edges_write",
}
RANKING = {"Window", "WindowGroupLimit", "TakeOrderedAndProject"}
PY_METRICS = {
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}


def path_kind(path: str) -> str | None:
    path = path.rstrip("/")
    m = re.search(r"/snapshots/r\d+[^/]*/(frontier|seen_delta|fetched|edges)", path)
    if m:
        return m.group(1)
    tail = path.rsplit("/", 1)[-1]
    return tail if tail in ("pages", "robots") else None


@dataclass
class Stage:
    sid: int
    scopes: set[str] = field(default_factory=set)  # scopes of RDDs computed, not cached
    scans: set[str] = field(default_factory=set)  # tables its tasks scanned
    exec_id: int | None = None
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    tasks: int = 0
    failed: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    fetch_wait_ms: float = 0.0
    py: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    jid: int
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    exec_id: int | None = None


def _persisted(r: dict) -> bool:
    level = r.get("Storage Level") or {}
    return bool(level.get("Use Memory") or level.get("Use Disk"))


def _scopes(rdd_infos: list[dict], materialized: set[int]) -> set[str]:
    """Scope names of the RDDs a stage computes. A persisted RDD that an
    earlier stage already materialized is read, not computed, and so are the
    RDDs it was derived from."""
    by_id = {r["RDD ID"]: r for r in rdd_infos}
    skip: set[int] = set()
    todo = [r["RDD ID"] for r in rdd_infos if r["RDD ID"] in materialized]
    while todo:
        rid = todo.pop()
        for p in by_id.get(rid, {}).get("Parent IDs", []):
            if p not in skip:
                skip.add(p)
                todo.append(p)
    out = set()
    for r in rdd_infos:
        if r["RDD ID"] not in skip and "Scope" in r:
            out.add(json.loads(r["Scope"])["name"].strip())
    return out


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.scan_acc: dict[int, str] = {}  # scan-node metric id -> table kind
        self.writes: dict[int, str] = {}  # SQL execution -> written snapshot kind
        self.materialized: set[int] = set()  # persisted RDDs a completed stage filled
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage(sid))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            job = Job(e["Job ID"], e["Submission Time"], stages=list(e["Stage IDs"]))
            job.exec_id = int(eid) if eid is not None else None
            self.jobs[job.jid] = job
            for sid in job.stages:
                self._stage(sid).exec_id = job.exec_id
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.scopes = _scopes(info["RDD Info"], self.materialized)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Failure Reason" not in info:
                self.materialized |= {r["RDD ID"] for r in info["RDD Info"] if _persisted(r)}
        elif kind == "SparkListenerUnpersistRDD":
            self.materialized.discard(e["RDD ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
            for p in re.findall(r"Arguments: file:([^,\s]+)", e.get("physicalPlanDescription", "")):
                k = path_kind(p)
                if k in WRITES:
                    self.writes[e["executionId"]] = k

    def _plan(self, node: dict) -> None:
        if node["nodeName"].startswith("Scan"):
            m = re.search(r"\[file:([^,\]]+)", node.get("metadata", {}).get("Location", ""))
            k = path_kind(m.group(1)) if m else None
            if k:
                for metric in node["metrics"]:
                    self.scan_acc[metric["accumulatorId"]] = k
        for child in node["children"]:
            self._plan(child)

    def _task(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        st.tasks += 1
        st.failed += bool(info.get("Failed"))
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        st.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
        st.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st.fetch_wait_ms += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        accs = {a["ID"]: a for a in info.get("Accumulables", [])}
        for aid, a in accs.items():
            if aid in self.scan_acc:
                st.scans.add(self.scan_acc[aid])
            key = PY_METRICS.get(a["Name"])
            if key is None:
                continue
            st.py[key] += float(a.get("Update") or 0)
            if key == "run_ms":
                # a Python node registers its output-row metric right after
                # its run-time metric
                rows = accs.get(aid + 1)
                if rows is not None and rows["Name"] == "number of output rows":
                    st.py["rows"] += float(rows.get("Update") or 0)

    # ------------------------------------------------------------ layers
    def layer(self, st: Stage) -> str | None:
        if st.py.get("run_ms", 0) > 0 or st.py.get("init_ms", 0) > 0:
            for scope, name in CROSSINGS:
                if scope in st.scopes:
                    return name
        if st.exec_id in self.writes:
            return WRITES[self.writes[st.exec_id]]
        if st.scopes & RANKING or "frontier" in st.scans:
            return "frontier.select"
        if "robots" in st.scans:
            return "politeness"
        if "pages" in st.scans:
            return "extraction"
        return None

    def window(self, t0: float, t1: float) -> "Window":
        jobs = [j for j in self.jobs.values() if t0 <= j.start <= t1]
        sids = {s for j in jobs for s in j.stages if s in self.stages and self.stages[s].tasks}
        return Window(self, t0, t1, jobs, [self.stages[s] for s in sorted(sids)])


def union_ms(intervals: list[tuple[float, float]]) -> float:
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


@dataclass
class Window:
    """Jobs and stages submitted inside one op's span."""

    log: EventLog
    t0: float
    t1: float
    jobs: list[Job]
    stages: list[Stage]

    def job_union_ms(self) -> float:
        return union_ms([(max(j.start, self.t0), min(j.end or self.t1, self.t1)) for j in self.jobs])

    def by_layer(self) -> dict[str | None, list[Stage]]:
        out: dict[str | None, list[Stage]] = defaultdict(list)
        for st in self.stages:
            out[self.log.layer(st)].append(st)
        return out

    def crossings(self) -> dict[str, dict[str, float]]:
        """Per-crossing rows, bytes each way and Python start/init/run time."""
        layers = self.by_layer()
        table = {}
        for scope, name in CROSSINGS:
            row = defaultdict(float)
            for st in layers.get(name, []):
                for k, v in st.py.items():
                    row[k] += v
                row["stage_s"] += st.run_ms / 1000.0
            table[scope] = {
                "layer": name,
                "rows": row["rows"],
                "bytes_to_py": row["bytes_to_py"],
                "bytes_from_py": row["bytes_from_py"],
                "start_s": row["start_ms"] / 1000.0,
                "init_s": row["init_ms"] / 1000.0,
                "run_s": row["run_ms"] / 1000.0,
                "stage_s": row["stage_s"],
            }
        return table
