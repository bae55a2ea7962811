"""Readings taken from outside the package.

``ProcWatch`` reads ``/proc`` for the JVM and its Python workers (CPU
seconds, peak resident memory).  ``SparkTrace`` reads
Spark's own bookkeeping around one call: the job group's jobs and tasks
from ``statusTracker()``, per-node SQL metrics from the SQL status
store, and GC time from the JVM's GarbageCollectorMXBeans.
"""

from __future__ import annotations

import os
from collections import Counter

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        text = fh.read()
    # the comm field may hold spaces; everything after its ')' is split
    return text[text.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class ProcWatch:
    """CPU and peak memory of the processes this benchmark started (the
    driver JVM and the Python workers below it), not of itself."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_kb = 0

    def cpu_s(self) -> float:
        """utime+stime of each live descendant, plus what its reaped
        children used (cutime+cstime), in seconds."""
        ticks = 0
        for pid in descendants(self.root):
            try:
                f = _stat_fields(pid)
            except OSError:
                continue
            ticks += sum(int(x) for x in f[11:15])
        return ticks / CLK_TCK

    def jit_cpu_s(self) -> float:
        """utime+stime of the JIT compiler threads (``C1 CompilerThread*``,
        ``C2 CompilerThread*``) of every live descendant, in seconds."""
        ticks = 0
        for pid in descendants(self.root):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        if "CompilerThre" not in fh.read():
                            continue
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        text = fh.read()
                except OSError:
                    continue
                ticks += sum(int(x) for x in text[text.rindex(")") + 2 :].split()[11:13])
        return ticks / CLK_TCK

    def sample(self) -> None:
        """Sum the VmHWM (peak RSS so far) of every live descendant and
        keep the largest sum seen."""
        total = 0
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    total += next(
                        int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
                    )
            except (OSError, StopIteration):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store formats it, e.g.
    ``"12,345"``, ``"1018.0 KiB"`` or, for per-task metrics,
    ``"total (min, med, max ...)\\n2.8 s (668 ms, ...)"``; returns the
    total in bytes, seconds or rows."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def _is_python_node(name: str) -> bool:
    return "InPandas" in name or "InArrow" in name or "EvalPython" in name


def node_metrics(graph_nodes: dict, children: dict) -> Counter:
    """Sum the per-layer quantities over one execution's plan nodes.

    ``graph_nodes`` maps node id -> (name, {metric name: value});
    ``children`` maps node id -> child node ids."""
    out: Counter = Counter()

    def rows_into(node: int) -> float:
        # rows a node receives = rows its nearest counted descendants emit
        total = 0.0
        for child in children.get(node, []):
            name, ms = graph_nodes[child]
            if "number of output rows" in ms:
                total += ms["number of output rows"]
            else:
                total += rows_into(child)
        return total

    for nid, (name, ms) in graph_nodes.items():
        if name.startswith("Scan"):
            out["sources.scan_rows"] += ms.get("number of output rows", 0)
            out["sources.scan_mb"] += ms.get("size of files read", 0) / MB
        elif name == "Exchange":
            out["exchange.shuffle_write_mb"] += ms.get("shuffle bytes written", 0) / MB
            out["exchange.shuffle_records"] += ms.get("shuffle records written", 0)
            out["exchange.fetch_wait_s"] += ms.get("fetch wait time", 0)
        elif name == "BroadcastExchange":
            out["exchange.broadcast_mb"] += ms.get("data size", 0) / MB
        elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            out["sinks.files_written"] += ms.get("number of written files", 0)
            out["sinks.mb_written"] += ms.get("written output", 0) / MB
            out["sinks.commit_s"] += ms.get("task commit time", 0) + ms.get(
                "job commit time", 0
            )
        elif _is_python_node(name):
            out["python.rows_to_worker"] += rows_into(nid)
            out["python.mb_to_worker"] += ms.get("data sent to Python workers", 0) / MB
        if "Aggregate" in name or name == "Sort":
            out["aggregate.peak_mem_mb"] += ms.get("peak memory", 0) / MB
        out["sort.spill_mb"] += ms.get("spill size", 0) / MB
    return out


class SparkTrace:
    """Per-call tracing through Spark's own status APIs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jss = spark._jsparkSession
        self.store = jss.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.n_calls = 0

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1000.0

    def _executions(self) -> int:
        self.bus.waitUntilEmpty()
        return int(self.store.executionsCount())

    def begin(self, name: str) -> None:
        self.n_calls += 1
        self.tag = f"perfbench-{self.n_calls}-{name}"
        self.gc0 = self.gc_s()
        self.exec_mark0 = self._executions()
        self.sc.setJobGroup(f"{self.tag}/build", name)

    def exec_phase(self) -> None:
        self.exec_mark1 = self._executions()
        self.sc.setJobGroup(f"{self.tag}/exec", self.tag)

    def end(self) -> Counter:
        """Counts and SQL metrics of the call that just returned."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        n_exec = self._executions()
        out: Counter = Counter()
        tracker = self.sc.statusTracker()
        out["plans.build_jobs"] = len(tracker.getJobIdsForGroup(f"{self.tag}/build"))
        exec_jobs = tracker.getJobIdsForGroup(f"{self.tag}/exec")
        out["exec.jobs"] = len(exec_jobs)
        for jid in exec_jobs:
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                stage = tracker.getStageInfo(sid)
                out["exec.tasks"] += stage.numCompletedTasks if stage else 0
        out["exec.sql_executions"] = n_exec - self.exec_mark1
        if n_exec > self.exec_mark0:
            lst = self.store.executionsList(self.exec_mark0, n_exec - self.exec_mark0)
            for i in range(lst.size()):
                out.update(self._execution_metrics(lst.apply(i).executionId()))
        out["jvm.gc_s"] = self.gc_s() - self.gc0
        out["operators.persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        return out

    def _execution_metrics(self, eid: int) -> Counter:
        values = self.store.executionMetrics(eid)
        graph = self.store.planGraph(eid)
        nodes: dict = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            node = it.next()
            ms = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    try:
                        ms[m.name()] = metric_value(v.get())
                    except (ValueError, KeyError, IndexError):
                        pass  # averages and other non-additive formats
            nodes[node.id()] = (node.name(), ms)
        children: dict = {}
        it = graph.edges().iterator()
        while it.hasNext():
            e = it.next()
            children.setdefault(e.toId(), []).append(e.fromId())
        return node_metrics(nodes, children)
