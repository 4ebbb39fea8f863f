"""Per-layer ledger: Spark-side numbers from Spark's status stores, engine
phases timed in-process, and process-tree CPU and memory from /proc.

Spark side. Job, stage and SQL execution ids only grow, so a pass owns
exactly the ids created between two ``mark()`` calls, whichever threads
ran them. Per-stage run time and GC, and per-task durations and shuffle
reads, come from the AppStatusStore; per-operator SQL metrics come from
each execution's plan graph in the SQLAppStatusStore, with the raw
accumulator value read from the driver's AccumulatorContext (the store
only keeps rounded text, used as a fallback). The extraction stage is the
non-scan stage with the most executor run time. ``layers.unattributed_frac``
is the share of a pass's wall that no stage of the pass covers: driver-side
planning, scheduling gaps and result fetch.

Engine side. ``engine_phases`` runs the library's public per-document
functions one after another and records a span per phase: (name, start,
end, parent, doc_id). Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: the benchmark process and everything it started (JVM, Python workers)
# ---------------------------------------------------------------------------


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the live process tree, reaped children included."""
    ticks = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread."""

    def __init__(self, root: int, every_s: float = 0.1):
        self.root, self.every_s = root, every_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.every_s)

    def take(self) -> int:
        """Peak since the last take."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def _parse_metric_text(text: str) -> float:
    """Total of a formatted SQL metric ("4,000", "1.2 s", "total (...)\\n8 MiB (...)")."""
    line = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    m = re.fullmatch(r"([0-9.]+)\s*([A-Za-z]*)", line)
    return float(m.group(1)) * _UNITS.get(m.group(2), 1) if m else 0.0


def _raw_to_si(value: int, metric_type: str) -> float:
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


@dataclass
class Mark:
    t: float
    job: int
    stage: int
    execution: int
    cpu_s: float
    steal_s: float


@dataclass
class StageRow:
    stage_id: int
    start: float
    end: float
    tasks: int
    run_s: float
    gc_s: float
    input_bytes: int


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class SparkLedger:
    def __init__(self, spark, cores: int):
        self.cores = cores
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext
        self.pid = os.getpid()

    def mark(self) -> Mark:
        """The newest ids and the clocks, once every event so far is stored."""
        self.jsc.listenerBus().waitUntilEmpty()
        n = self.sql.executionsCount()
        execution = self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        job = max(self.sc.statusTracker().getJobIdsForGroup(None), default=-1)
        stage = -1
        if job >= 0:
            info = self.sc.statusTracker().getJobInfo(job)
            stage = max(info.stageIds, default=-1) if info else -1
        return Mark(
            time.time(), job, stage, execution, tree_cpu_s(self.pid), host_steal_s()
        )

    def _stages(self, a: Mark, b: Mark) -> list[StageRow]:
        tracker = self.sc.statusTracker()
        ids = set()
        for job in range(a.job + 1, b.job + 1):
            info = tracker.getJobInfo(job)
            if info:
                ids.update(s for s in info.stageIds if s > a.stage)
        rows = []
        for sid in sorted(ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            rows.append(
                StageRow(
                    stage_id=sid,
                    start=_opt_time(sd.submissionTime()),
                    end=_opt_time(sd.completionTime()),
                    tasks=sd.numCompleteTasks(),
                    run_s=sd.executorRunTime() / 1e3,
                    gc_s=sd.jvmGcTime() / 1e3,
                    input_bytes=sd.inputBytes(),
                )
            )
        return rows

    def _task_stats(self, stage_id: int) -> tuple[list[float], list[int]]:
        sd = self.store.lastStageAttempt(stage_id)
        tasks = self.store.taskList(stage_id, sd.attemptId(), 1 << 30)
        durations, read_bytes = [], []
        for i in range(tasks.size()):
            t = tasks.apply(i)
            if t.duration().isDefined():
                durations.append(t.duration().get() / 1e3)
            if t.taskMetrics().isDefined():
                sr = t.taskMetrics().get().shuffleReadMetrics()
                read_bytes.append(sr.localBytesRead() + sr.remoteBytesRead())
        return durations, read_bytes

    def _executions(self, a: Mark, b: Mark) -> list:
        n = self.sql.executionsCount()
        span = b.execution - a.execution
        if span <= 0:
            return []
        lst = self.sql.executionsList(max(n - span, 0), span)
        return [
            lst.apply(i)
            for i in range(lst.size())
            if a.execution < lst.apply(i).executionId() <= b.execution
        ]

    def _sql_metrics(self, executions: list) -> dict[tuple[str, str], float]:
        """Sum of each (operator name, metric name) over the executions."""
        sums: dict[tuple[str, str], float] = {}
        for e in executions:
            eid = e.executionId()
            text = None
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    acc = self.acc.get(m.accumulatorId())
                    if acc.isDefined():
                        v = _raw_to_si(acc.get().value(), m.metricType())
                    else:
                        if text is None:
                            text = self.sql.executionMetrics(eid)
                        t = text.get(m.accumulatorId())
                        v = (
                            _parse_metric_text(t.get())
                            if t.isDefined()
                            else 0.0
                        )
                    key = (node.name().strip(), m.name())
                    sums[key] = sums.get(key, 0.0) + v
        return sums

    def read(self, a: Mark, b: Mark, pass_id: str, spans: list) -> dict:
        """Spark-side layer metrics of the pass between marks a and b."""
        wall = b.t - a.t
        stages = self._stages(a, b)
        executions = self._executions(a, b)
        sql = self._sql_metrics(executions)

        def op(names, metric):
            return sum(sql.get((n, metric), 0.0) for n in names)

        udf_ops = ("MapInArrow", "MapInPandas")
        scan_stages = [s for s in stages if s.input_bytes > 0]
        rest = [s for s in stages if s.input_bytes == 0]
        extract = max(rest, key=lambda s: s.run_s, default=None)
        after = [s for s in rest if extract and s.start >= extract.end]
        out = {
            "scan.time_s": op(("Scan parquet",), "scan time"),
            "scan.bytes": op(("Scan parquet",), "size of files read"),
            "map_stage.run_s": sum(s.run_s for s in scan_stages),
            "shuffle.write_bytes": op(("Exchange",), "shuffle bytes written"),
            "shuffle.write_s": op(("Exchange",), "shuffle write time"),
            "shuffle.fetch_wait_s": op(("Exchange",), "fetch wait time"),
            "udf.python_s": op(udf_ops, "time to run Python workers"),
            "udf.bytes_in": op(udf_ops, "data sent to Python workers"),
            "udf.bytes_out": op(udf_ops, "data returned from Python workers"),
            "udf.rows_out": op(udf_ops, "number of output rows"),
            "udf.worker_start_s": op(udf_ops, "time to start Python workers"),
            "udf.worker_init_s": op(udf_ops, "time to initialize Python workers"),
            "spark.jobs": b.job - a.job,
            "spark.stages": len(stages),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.sql_execs": len(executions),
            "jvm.gc_s": sum(s.gc_s for s in stages),
            "cpu.busy_frac": (b.cpu_s - a.cpu_s) / (wall * self.cores),
            "host.steal_frac": (b.steal_s - a.steal_s) / (wall * os.cpu_count()),
            "rollup.s": _union([(s.start, s.end) for s in after], a.t, b.t),
        }
        if extract is not None:
            durations, read_bytes = self._task_stats(extract.stage_id)
            stage_wall = max(extract.end - extract.start, 1e-3)
            out.update(
                {
                    "extract_stage.run_s": extract.run_s,
                    "udf.jvm_side_s": extract.run_s - out["udf.python_s"],
                    "extract_stage.tail": _ratio(max(durations), statistics.median(durations)),
                    "extract_stage.busy_frac": extract.run_s / (stage_wall * self.cores),
                    "shuffle.part_skew": _ratio(max(read_bytes), statistics.median(read_bytes)),
                }
            )
        covered = _union([(s.start, s.end) for s in stages], a.t, b.t)
        out["layers.unattributed_frac"] = 1.0 - covered / wall
        for s in stages:
            spans.append((f"stage {s.stage_id}", s.start, s.end, pass_id, ""))
        out["_executions"] = [
            (e.executionId(), e.submissionTime() / 1e3, _opt_time(e.completionTime()),
             e.physicalPlanDescription())
            for e in executions
        ]
        return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if s and e):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


# ---------------------------------------------------------------------------
# engine phases, timed in-process per document
# ---------------------------------------------------------------------------


def engine_phases(docs: list, spans: list, render: bool) -> dict:
    """Time decode, parse, preprocess, score, encode (and render) per doc."""
    from go_readability_spark.operators.render import render_article
    from go_readability_spark.readability.extract import (
        ReadabilityOptions,
        extract_content,
    )
    from go_readability_spark.readability.fmt import count_nodes
    from go_readability_spark.readability.parser import parse_html
    from go_readability_spark.readability.preprocess import preprocess_document
    from go_readability_spark.spans import element_to_spans, spans_to_html

    opts = ReadabilityOptions(forced_page_type="")
    clock = time.perf_counter
    epoch = time.time() - clock()  # spans share the Spark side's epoch clock
    phase_s = {k: 0.0 for k in ("decode", "parse", "preprocess", "score", "encode", "render")}
    nodes = pruned = 0
    n_bytes = 0
    for doc_id, doc_spans in docs:
        t0 = clock()
        html = spans_to_html(doc_spans)
        t1 = clock()
        doc = parse_html(html, "")
        t2 = clock()
        before = count_nodes(doc.document_element)
        t3 = clock()
        preprocess_document(doc)
        t4 = clock()
        after = count_nodes(doc.document_element)
        t5 = clock()
        article = extract_content(doc, opts)
        t6 = clock()
        element_to_spans(article.root)
        t7 = clock()
        if render:
            render_article(article)
        t8 = clock()
        nodes += before
        pruned += max(0, before - after)
        n_bytes += len(html.encode("utf-8", "surrogatepass"))
        phases = [
            ("decode", t0, t1), ("parse", t1, t2), ("preprocess", t3, t4),
            ("score", t5, t6), ("encode", t6, t7),
        ]
        if render:
            phases.append(("render", t7, t8))
        for name, s, e in phases:
            phase_s[name] += e - s
            spans.append((name, epoch + s, epoch + e, "doc", doc_id))
        spans.append(("doc", epoch + t0, epoch + t8, "engine", doc_id))
    n, mb = len(docs), n_bytes / 1e6
    return {
        "spans.decode_ms": phase_s["decode"] * 1e3 / n,
        "spans.encode_ms": phase_s["encode"] * 1e3 / n,
        "spans.decode_ms_per_mb": phase_s["decode"] * 1e3 / mb,
        "spans.encode_ms_per_mb": phase_s["encode"] * 1e3 / mb,
        "parser.parse_ms": phase_s["parse"] * 1e3 / n,
        "parser.parse_ms_per_mb": phase_s["parse"] * 1e3 / mb,
        "parser.nodes_per_doc": nodes / n,
        "preprocess.ms": phase_s["preprocess"] * 1e3 / n,
        "preprocess.pruned_per_doc": pruned / n,
        "extract.score_ms": phase_s["score"] * 1e3 / n,
        "render.ms": phase_s["render"] * 1e3 / n,
    }
