"""Read Spark's own accounting of the jobs a rep ran: plan metrics from the
executed (AQE-final) SQL plans, and job, stage and task figures from the
application status store. Only the benchmark's traced run calls this."""

from __future__ import annotations

# plan-metric name -> per-layer metric it is summed into
PLAN_METRICS = {
    "number of files read": "scan.files",
    "size of files read": "scan.bytes",
    "shuffle bytes written": "exchange.bytes",
    "shuffle write time": "exchange.write_s",
    "time to start Python workers": "worker.boot_s",
    "time to initialize Python workers": "worker.init_s",
    "time to run Python workers": "worker.total_s",
    "data sent to Python workers": "worker.bytes_sent",
    "data returned from Python workers": "worker.bytes_received",
}

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_metric(text: str) -> float:
    """A plan metric's total from its rendered form: '2,000', '1.2 s' or
    'total (min, med, max ...)\\n10.1 s (2.5 s, ...)'."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


class SparkStats:
    """Marks a point in the application's history and sums what ran since."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        jobs = self._store.jobsList(None)
        execs = self._sql.executionsList()
        last_job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        last_exec = max(
            (execs.apply(i).executionId() for i in range(execs.size())), default=-1
        )
        return last_job, last_exec

    def jobs_since(self, mark: tuple[int, int]) -> list[dict]:
        """Jobs started after ``mark``: id, JVM-clock start/end (s) and stages."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark[0] or not j.completionTime().isDefined():
                continue
            stages = j.stageIds()
            out.append(
                {
                    "id": j.jobId(),
                    "start": j.submissionTime().get().getTime() / 1000.0,
                    "end": j.completionTime().get().getTime() / 1000.0,
                    "stages": [stages.apply(k) for k in range(stages.size())],
                }
            )
        return out

    def tasks(self, jobs: list[dict], cores: int) -> dict:
        """Task count, summed task run time, the skew (slowest task over
        median task) of the stage that kept tasks busiest, and ``spread_s``:
        the summed lower bounds of the stages' walls."""
        gw = self._sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        count, busy, spread, heaviest = 0, 0.0, 0.0, (0.0, 1.0)
        seen = set()
        for job in jobs:
            for sid in job["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage skipped: never ran, no record
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                run_s = st.executorRunTime() / 1000.0
                # a task's duration adds to its run the scheduler delay,
                # deserializing the task and fetching its result
                tasks = self._store.taskList(sid, st.attemptId(), st.numCompleteTasks())
                durations = [tasks.apply(t).duration().get() / 1000.0 for t in range(tasks.size())]
                count += st.numCompleteTasks()
                busy += run_s
                # a stage ends no sooner than its slowest task, nor before
                # its work spread over the cores it could use
                spread += max(sum(durations) / min(cores, len(durations)), max(durations))
                if run_s > heaviest[0]:
                    summary = self._store.taskSummary(sid, st.attemptId(), quantiles)
                    if summary.isDefined():
                        dist = summary.get().executorRunTime()
                        med, top = dist.apply(0), dist.apply(1)
                        heaviest = (run_s, top / med if med > 0 else 1.0)
        return {"tasks.count": count, "tasks.busy_s": busy, "tasks.skew": heaviest[1],
                "spread_s": spread}

    def plan_metrics(self, mark: tuple[int, int]) -> dict:
        """PLAN_METRICS summed over every SQL execution since ``mark``."""
        out = dict.fromkeys(PLAN_METRICS.values(), 0.0)
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= mark[1]:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PLAN_METRICS.get(m.name())
                    shown = values.get(m.accumulatorId())
                    if key and shown.isDefined():
                        out[key] += parse_metric(shown.get())
        return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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
