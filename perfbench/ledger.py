"""Per-call Spark ledger, read from outside the library.

Nothing here changes what the program does. Around each public call the
benchmark reads three things the session already exposes:

- ``/proc`` for the CPU time and peak RSS of the Spark JVM and of the
  Python daemon and workers it forks;
- the JVM's garbage-collector MXBeans and the block manager's storage
  info, through the Py4J gateway;
- Spark's status store (jobs and stages), dumped once at the end of a
  traced pass as JSON by the Jackson mapper already on the JVM's
  classpath, so the pass itself pays no per-stage gateway round trips.

A ``Pass`` runs calls back to back (a closed loop with one client).
Untraced, it only times the calls; traced, it also sets the job group
of every call to the call's span id and records workload, call and job
spans, which are written as JSON lines at exit.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import traceback

_TICK = os.sysconf("SC_CLK_TCK")
_ERROR_LINE = re.compile(rb"^\S+ \S+ ERROR ", re.M)


# ----------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own CPU s, reaped-children CPU s) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, reaped


class ProcessTree:
    """The Spark JVM and everything it forked (Python daemon, workers)."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python daemon + workers CPU s), cumulative.

        A worker that exits is reaped by the daemon, so its time moves
        into the daemon's reaped-children counter and stays counted.
        """
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        root = stats.get(self.jvm_pid)
        if root is None:
            return 0.0, 0.0
        jvm = root[1] + root[2]
        py = 0.0
        todo = list(children.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            _, own, reaped = stats[pid]
            py += own + reaped
            todo.extend(children.get(pid, ()))
        return jvm, py

    def vmhwm_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM line for the Spark JVM")


# ------------------------------------------------------------------ JVM


class JvmProbe:
    """Gateway reads: GC totals, registered storage, status-store dumps."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.tree = ProcessTree(self.sc._gateway.proc.pid)
        self._mapper = None

    def gc(self) -> tuple[float, int]:
        """(collection seconds, collection count) summed over collectors."""
        beans = self.jvm.java.lang.management.ManagementFactory
        secs, count = 0.0, 0
        for bean in beans.getGarbageCollectorMXBeans():
            secs += bean.getCollectionTime() / 1000.0
            count += bean.getCollectionCount()
        return secs, count

    def storage(self) -> tuple[float, int]:
        """(MB in memory + on disk, RDD count) still registered."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        return mb, len(infos)

    def _dump(self, obj) -> list[dict]:
        if self._mapper is None:
            jackson = self.jvm.com.fasterxml.jackson
            self._mapper = jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                jackson.module.scala.DefaultScalaModule()
            )
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._dump(self.sc._jsc.sc().statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        empty = self.sc._gateway.new_array(self.jvm.double, 0)
        return self._dump(store.stageList(None, False, False, empty, None))


def count_error_lines(log_path: str, start: int, end: int) -> int:
    if end <= start:
        return 0
    with open(log_path, "rb") as f:
        f.seek(start)
        return len(_ERROR_LINE.findall(f.read(end - start)))


# ---------------------------------------------------------------- spans


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    """Spans kept in memory, written as JSON lines by ``write``."""

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self.spans: list[dict] = []
        self._n = 0

    def new_id(self) -> str:
        self._n += 1
        return f"{self.tag}-{self._n}"

    def add(self, span: dict) -> dict:
        self.spans.append(span)
        return span

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span, sort_keys=True) + "\n")


# ----------------------------------------------------------------- pass


class Pass:
    """One pass of a workload's calls, run back to back.

    ``call(name, construct, consume)`` runs the public call
    (``construct``) and then the final action on its result
    (``consume``); the split gives the driver-side construction time
    (the counts, samples and collects the call runs before it returns)
    apart from the final action. A call that raises is recorded as
    failed and the pass goes on.
    """

    def __init__(self, probe: JvmProbe, tracer: Tracer | None,
                 log_path: str, workload: str) -> None:
        self.probe = probe
        self.tracer = tracer
        self.log_path = log_path
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.calls: list[dict] = []
        self.trace_s = 0.0  # pass wall spent reading the ledger
        self.span = None
        if tracer is not None:
            self.span = tracer.add({
                "id": tracer.new_id(), "parent": None, "kind": "workload",
                "name": workload, "start": None, "end": None,
            })
        self.start = self.end = None
        self.cpu0 = self.cpu1 = None

    def __enter__(self) -> Pass:
        self.cpu0 = self.probe.tree.cpu()
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.cpu1 = self.probe.tree.cpu()
        if self.span is not None:
            self.span["start"], self.span["end"] = self.start, self.end

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> tuple[float, float]:
        """(total, Python-worker part) CPU seconds over the pass."""
        py = self.cpu1[1] - self.cpu0[1]
        return (self.cpu1[0] - self.cpu0[0]) + py, py

    def call(self, name, construct, consume) -> None:
        traced = self.tracer is not None
        rec = {"name": name}
        if traced:
            t = time.time()
            sc = self.probe.sc
            span_id = self.tracer.new_id()
            rec.update(id=span_id, gc0=self.probe.gc(),
                       log0=os.path.getsize(self.log_path))
            sc.setJobGroup(span_id, name)
            self.trace_s += time.time() - t
        t0 = time.time()
        t1 = None
        try:
            value = construct()
            t1 = time.time()
            if traced:
                rec["construct_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(span_id)
                )
            result = consume(value)
            del value
            self.results[name] = result
        except Exception:  # a failed call is counted, the pass goes on
            self.errors[name] = traceback.format_exc(limit=6)
        t2 = time.time()
        rec.update(start=t0, end=t2, construct_s=(t1 or t2) - t0)
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            gc1 = self.probe.gc()
            rec["gc_s"] = gc1[0] - rec["gc0"][0]
            rec["gc_count"] = gc1[1] - rec.pop("gc0")[1]
            rec["residue_mb"], rec["residue_rdds"] = self.probe.storage()
            rec["error_lines"] = count_error_lines(
                self.log_path, rec.pop("log0"),
                os.path.getsize(self.log_path),
            )
            self.trace_s += time.time() - t2
        self.calls.append(rec)

    # ------------------------------------------------------ traced report

    def ledger(self) -> dict:
        """Attribute status-store jobs and stages to calls; add job
        spans; return pass-level layer totals. Traced passes only."""
        jobs = [
            j for j in self.probe.jobs()
            if j.get("submissionTime") is not None
            and self.start * 1000 <= j["submissionTime"] <= self.end * 1000
        ]
        stages = {}
        for s in self.probe.stages():
            if s["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(s["stageId"], []).append(s)
        by_id = {c["id"]: c for c in self.calls}

        def owner(job: dict) -> dict | None:
            call = by_id.get(job.get("jobGroup"))
            if call is not None:
                return call
            t = job["submissionTime"] / 1000.0
            # streaming micro-batches run under the stream's own group
            for c in self.calls:
                if c["start"] <= t <= c["end"]:
                    return c
            return None

        keys = ("exec_run_s", "exec_cpu_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb", "tasks",
                "tasks_failed", "stages", "jobs")
        for c in self.calls:
            c.update({k: 0 for k in keys})
            c["job_intervals"] = []
        all_intervals = []
        for job in jobs:
            call = owner(job)
            start = job["submissionTime"] / 1000.0
            end = (job.get("completionTime") or self.end * 1000) / 1000.0
            all_intervals.append((start, end))
            self.tracer.add({
                "id": f"{self.tracer.tag}-job{job['jobId']}",
                "parent": call["id"] if call else self.span["id"],
                "kind": "job", "name": job.get("name", ""),
                "start": start, "end": end, "status": job["status"],
            })
            if call is None:
                continue
            call["jobs"] += 1
            call["job_intervals"].append((start, end))
            for sid in job.get("stageIds", ()):
                for s in stages.pop(sid, ()):
                    call["stages"] += 1
                    call["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                    call["tasks_failed"] += s["numFailedTasks"]
                    call["exec_run_s"] += s["executorRunTime"] / 1000.0
                    call["exec_cpu_s"] += s["executorCpuTime"] / 1e9
                    call["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                    call["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
                    call["spill_mb"] += s["diskBytesSpilled"] / 1e6
                    call["input_mb"] += s["inputBytes"] / 1e6
        for c in self.calls:
            wall = c["end"] - c["start"]
            c["self_s"] = wall - _union_s(c.pop("job_intervals"))
            self.tracer.add({
                "id": c["id"], "parent": self.span["id"], "kind": "call",
                "name": c["name"], "start": c["start"], "end": c["end"],
                "attrs": {k: v for k, v in c.items()
                          if k not in ("id", "name", "start", "end")},
            })
        summed = keys + ("self_s", "construct_s", "gc_s", "gc_count",
                         "error_lines")
        totals = {k: sum(c[k] for c in self.calls) for k in summed}
        # a call whose construction raised has no construct_jobs
        totals["construct_jobs"] = sum(
            c.get("construct_jobs", 0) for c in self.calls
        )
        totals["nojob_s"] = self.wall_s - _union_s(all_intervals)
        totals["residue_peak_mb"] = max(
            (c["residue_mb"] for c in self.calls), default=0.0
        )
        return totals

    def call_record(self, name: str) -> dict:
        return next(c for c in self.calls if c["name"] == name)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
