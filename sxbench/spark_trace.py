"""Timing of public calls, and per-layer numbers read from Spark's status stores.

Every public call the benchmark makes goes through :meth:`Tracer.call`.
Untraced, that is a wall-clock timer and nothing else.  Traced, the call
also runs under its own Spark job group; after it returns, outside the timed
region, the tracer drains the listener bus and reads the core status store
(jobs, stages, task-time distribution) and the SQL status store (operator
metrics of the Python boundary).  Reading the stores launches no Spark job
and needs no code in the program.

Spans (run → pass → call → job → stage) are kept in memory and written out
by the caller when the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict, deque

from stats import parse_sql_metric, self_time, union_length

SPAN_LEVELS = ("run", "pass", "call", "job", "stage")

# MapInPandas metric name (as Spark labels it) → layer counter
_PY_METRICS = {
    "time to run Python workers": "kernels.python_s",
    "time to start Python workers": "kernels.boot_s",
    "time to initialize Python workers": "kernels.init_s",
    "data sent to Python workers": "kernels.bytes_sent",
    "data returned from Python workers": "kernels.bytes_received",
}
_ROW_METRICS = ("number of output rows", "records read")


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.spans: list[dict] = []
        self._groups = 0
        self._pass: dict | None = None
        self._pass_span: dict | None = None
        self.run_span = self._span("run", "run", None)

    # ── spans ────────────────────────────────────────────────────────────
    def _span(self, level, name, parent, start=None, end=None) -> dict:
        span = {"id": len(self.spans), "level": level, "name": name,
                "parent": parent["id"] if parent else None,
                "start": time.time() if start is None else start, "end": end}
        self.spans.append(span)
        return span

    def finish(self) -> None:
        self.run_span["end"] = time.time()

    def self_times(self, span_ids: set[int] | None = None) -> dict[str, float]:
        """Total self time per level, over the spans in ``span_ids`` (all
        spans when None)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {lvl: 0.0 for lvl in SPAN_LEVELS}
        for s in self.spans:
            if span_ids is None or s["id"] in span_ids:
                out[s["level"]] += self_time(s["start"], s["end"], kids[s["id"]])
        return out

    def descendants(self, span_id: int) -> set[int]:
        ids, frontier = {span_id}, [span_id]
        while frontier:
            parent = frontier.pop()
            for s in self.spans:
                if s["parent"] == parent:
                    ids.add(s["id"])
                    frontier.append(s["id"])
        return ids

    # ── passes and calls ─────────────────────────────────────────────────
    def next_job_id(self) -> int:
        """Jobs submitted so far in this session (read from the scheduler,
        not from the status store, which evicts old jobs)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def begin_pass(self, label: str) -> None:
        self._pass = {"label": label, "traced": self.traced, "calls": [],
                      "jobs_before": self.next_job_id()}
        self._pass_span = self._span("pass", label, self.run_span)

    def end_pass(self) -> dict:
        p, self._pass = self._pass, None
        self._pass_span["end"] = time.time()
        p["span"] = self._pass_span["id"]
        p["wall_s"] = sum(c["wall_s"] for c in p["calls"])
        p["jobs"] = self.next_job_id() - p.pop("jobs_before")
        return p

    def call(self, name: str, fn):
        """Run ``fn()`` as one timed public call of the current pass."""
        sc = self.spark.sparkContext
        if self.traced:
            self._groups += 1
            group = f"sxbench-{self._groups}"
            sc.setJobGroup(group, name, False)
        t0 = time.time()
        try:
            result = fn()
        finally:
            t1 = time.time()
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        record = {"name": name, "start": t0, "wall_s": t1 - t0}
        span = self._span("call", name, self._pass_span, t0, t1)
        if self.traced:
            record["layers"] = self._read_stores(group, span)
        self._pass["calls"].append(record)
        return result

    # ── status stores ────────────────────────────────────────────────────
    def _read_stores(self, group: str, call_span: dict) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = defaultdict(float)
        job_ivals, seen, largest = [], set(), None
        start = call_span["start"]
        for jid in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            j0, j1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            job_span = self._span("job", f"job {jid}", call_span, j0, j1)
            job_ivals.append((j0, j1))
            c["pipeline.jobs"] += 1
            for sid in _seq(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                s0 = _opt_ms(sd.submissionTime())
                # a stage reused from an earlier call shows as COMPLETE with
                # an old submission time; only stages run in this call count
                if sd.status().toString() != "COMPLETE" or s0 is None or s0 < start - 0.001:
                    continue
                self._span("stage", f"stage {sid}", job_span, s0, _opt_ms(sd.completionTime()))
                run_s = sd.executorRunTime() / 1e3
                c["exec.run_s"] += run_s
                c["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                c["exec.gc_s"] += sd.jvmGcTime() / 1e3
                c["exec.tasks"] += sd.numTasks()
                c["scan.bytes"] += sd.inputBytes()
                c["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle.read_bytes"] += sd.shuffleReadBytes()
                c["shuffle.exchanges"] += 1 if sd.shuffleWriteRecords() > 0 else 0
                c["table_sink.rows"] += sd.outputRecords()
                c["table_sink.bytes"] += sd.outputBytes()
                if largest is None or run_s > largest[0]:
                    largest = (run_s, sid, sd.attemptId())
        c["pipeline.driver_self_s"] = (call_span["end"] - start) - union_length(
            [(max(a, start), min(b, call_span["end"])) for a, b in job_ivals if b and b > a]
        )
        if largest is not None:
            c["exec.largest_stage_run_s"] = largest[0]
            c["exec.task_skew"] = self._task_skew(store, largest[1], largest[2])
        self._read_sql_store(start, c)
        return dict(c)

    def _task_skew(self, store, stage_id: int, attempt: int) -> float:
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(stage_id, attempt, q)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 0.0

    def _read_sql_store(self, start: float, c: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        end = int(sql.executionsCount())
        while end > 0:
            begin = max(0, end - 50)
            batch = _seq(sql.executionsList(begin, end - begin))
            for ex in reversed(batch):
                if ex.submissionTime() / 1000.0 < start - 0.001:
                    return
                if "MapInPandas" in ex.physicalPlanDescription():
                    self._python_metrics(sql, ex.executionId(), c)
            end = begin

    @staticmethod
    def _python_metrics(sql, execution_id: int, c: dict) -> None:
        graph = sql.planGraph(execution_id)
        values = sql.executionMetrics(execution_id)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        children = defaultdict(list)
        for e in _seq(graph.edges()):
            children[e.toId()].append(e.fromId())

        def metrics(node) -> dict[str, float]:
            out = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                out[m.name()] = parse_sql_metric(v.get() if v.isDefined() else None)
            return out

        for nid, node in nodes.items():
            if node.name() != "MapInPandas":
                continue
            for name, value in metrics(node).items():
                if name in _PY_METRICS:
                    c[_PY_METRICS[name]] += value
            # rows into the kernel: the first operator below it that counts rows
            frontier = deque(children[nid])
            while frontier:
                below = frontier.popleft()
                m = metrics(nodes[below])
                rows = next((m[k] for k in _ROW_METRICS if k in m), None)
                if rows is not None:
                    c["kernels.rows_in"] += rows
                    break
                frontier.extend(children[below])
