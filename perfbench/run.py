"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. It sets up a session with
``plans.session.build_session`` defaults on ``local[nproc]`` three times,
generates (or reuses, after a digest check) the seeded inputs under
``.bench_cache/``, runs one untimed warm-up job, then runs the workload in a
closed loop (one job at a time, at least one job) for ``--seconds``,
checks the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": <jobs>, "failed": <jobs>, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``docs_per_s`` (median over
jobs), ``setup_s`` (median of the three set-ups; the first counts from
process start, the others rebuild the session in the same JVM; each ends
when a warm-up pass has booted the Python workers), ``resume_s`` (pipeline:
the resumed attempt; the other workloads keep no checkpoint, so recovering
means a full rerun and this is the median job wall), ``failed_frac``
(documents not processed ok / documents) and ``worker_peak_rss_mb``.
``--trace 1`` alternates untraced and traced jobs, records spans around the
benchmark's calls into each layer plus Spark's own job, stage and plan
accounting, times the per-document layers in-process on a seeded sample,
writes the spans to ``.bench_work/trace/`` and reports the per-layer metrics.
The line before the result carries host-noise labels (nproc, load, steal).
Exits 1 on any correctness mismatch.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import contextmanager  # noqa: E402

# 1-minute load before this run starts a JVM: the external-load telltale
LOAD_AT_START = os.getloadavg()[0]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from readabilityimproved_spark.plans.session import build_session  # noqa: E402

from perfbench import inputs  # noqa: E402
from perfbench.sparkstats import SparkStats, union_s  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CACHE_DIR = os.path.join(ROOT, ".bench_cache")
WORK_DIR = os.path.join(ROOT, ".bench_work")
SETUPS = 3

END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "resume_s": "s",
    "failed_frac": "ratio",
    "worker_peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Tracer:
    """Spans kept in memory: name, start, end (epoch s), parent, run id."""

    def __init__(self, spans: list, run_id: str, enabled: bool):
        self.spans, self.run_id, self.enabled = spans, run_id, enabled
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "run": self.run_id,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.time(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus what child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_s([(max(a, s["start"]), min(b, s["end"]))
                           for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class RssSampler(threading.Thread):
    """Largest resident set of any Python worker, sampled from /proc. The
    workers are the children of the Python fork server (the daemon); the
    fork server itself, which only holds the preloaded modules, is left
    out."""

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval, self.peak_kb = interval, 0
        self._done = threading.Event()
        self._pids: list[str] = []

    def _scan(self) -> None:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
                with open(f"/proc/{pid}/stat") as f:
                    ppid = f.read().rsplit(")", 1)[1].split()[1]
            except (OSError, IndexError):
                continue
            if b"python" in os.path.basename(argv[0]) and any(b"daemon" in a for a in argv[1:]):
                parent[pid] = ppid
        self._pids = [pid for pid, ppid in parent.items() if ppid in parent]

    def _sample(self) -> None:
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):  # workers outlive a job: no VmHWM
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                continue

    def run(self) -> None:
        tick = 0
        while not self._done.wait(self.interval):
            if tick % 10 == 0:
                self._scan()
            self._sample()
            tick += 1

    def stop(self) -> float:
        self._done.set()
        self.join()
        self._scan()
        self._sample()
        return self.peak_kb / 1024


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _warm_up(spark) -> None:
    """One tiny pass that boots a Python worker on every core."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()


def set_up() -> tuple:
    """SETUPS session set-ups; returns (spark, [(total, build, warm-up)])."""
    spark, times = None, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = T_START if i == 0 else time.perf_counter()
        tb = time.perf_counter()
        spark = build_session(app_name="perfbench")
        tw = time.perf_counter()
        _warm_up(spark)
        end = time.perf_counter()
        times.append((end - t0, tw - tb, end - tw))
    return spark, times


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # Spark's scratch space and every temp file stay inside the checkout
    # (no JVM perf-data file in /tmp either)
    for d in ("spark-local", "tmp", "trace"):
        os.makedirs(os.path.join(WORK_DIR, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK_DIR, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK_DIR, 'tmp')} -XX:-UsePerfData"
    )

    spark, setups = set_up()
    try:
        return _run(args, spark, setups)
    finally:
        _shut_down(spark)


def _shut_down(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM ends its Python workers as it stops)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _run(args, spark, setups) -> int:
    docs_path, expected = inputs.corpus(CACHE_DIR, args.workload, args.seed)
    wl = WORKLOADS[args.workload](spark, docs_path, expected, WORK_DIR, args.seed)
    wl.prepare()
    stats = SparkStats(spark) if args.trace else None
    nproc = os.cpu_count() or 1
    spans: list[dict] = []
    reps: list[dict] = []
    failed_jobs = 0

    def rep(k: int, traced: bool) -> dict:
        run_id = f"{args.workload}-{args.seed}-rep{k}"
        tracer = Tracer(spans, run_id, traced)
        mark = stats.mark() if traced else None
        t0 = time.perf_counter()
        with tracer.span("rep"):
            r = wl.rep(tracer)
        r["wall_s"], r["traced"] = r.get("job_s", time.perf_counter() - t0), traced
        if traced:
            r["layers"] = {**r.get("layers", {}),
                           **_traced_layers(stats, mark, spans, run_id, r, nproc)}
        return r

    # traced runs alternate untraced and traced jobs, so need two
    min_reps = 2 if args.trace else 1
    sampler = RssSampler()
    cpu0 = _cpu_times()
    try:
        wl.warm_up(Tracer(spans, "warm-up", False))
        cpu0 = _cpu_times()
        sampler.start()
        t_loop = time.perf_counter()
        while len(reps) < min_reps or time.perf_counter() - t_loop < args.seconds:
            reps.append(rep(len(reps) + 1, bool(args.trace) and len(reps) % 2 == 1))
    except Exception as exc:  # a failed job ends the run
        failed_jobs += 1
        wl.errors.append(f"job failed: {type(exc).__name__}: {exc}")
    rss_mb = sampler.stop() if sampler.is_alive() else 0.0
    delta = [b - a for a, b in zip(cpu0, _cpu_times())]
    steal = delta[7] / max(sum(delta), 1)
    host = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
            "loadavg_1m_at_start": LOAD_AT_START, "steal_frac": steal}

    check_layers = wl.check() if reps else {}
    correct = not wl.errors and bool(reps)
    if args.trace:
        layers = _per_layer(args, wl, reps, setups, check_layers, spans, host)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in _per_layer_units().items()}
    else:
        values = {
            "docs_per_s": _median(r["docs"] / r["wall_s"] for r in reps),
            "setup_s": _median(s[0] for s in setups),
            "resume_s": _median(r.get("resume_s", r["wall_s"]) for r in reps),
            "failed_frac": (reps[-1]["failed_docs"] if reps else 0) / wl.n_docs,
            "worker_peak_rss_mb": rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    print(json.dumps({"host": host, "jobs": len(reps), "errors": wl.errors}))
    print(json.dumps({"correct": correct, "attempted": len(reps) + failed_jobs,
                      "failed": failed_jobs, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


def _traced_layers(stats, mark, spans, run_id, rep, nproc) -> dict:
    """Spark's accounting of one traced job, joined to its spans."""
    jobs = stats.jobs_since(mark)
    mine = [s for s in spans if s["run"] == run_id]
    rep_span = next(s for s in mine if s["name"] == "rep")
    for job in jobs:  # each Spark job becomes a child of the innermost span around it
        around = [s for s in mine if s["start"] <= job["start"] <= s["end"]]
        parent = max(around, key=lambda s: s["start"]) if around else rep_span
        spans.append({"id": len(spans), "name": "spark.job", "run": run_id,
                      "parent": parent["id"], "start": job["start"], "end": job["end"]})
    out = {"jobs.count": len(jobs), **stats.tasks(jobs, nproc), **stats.plan_metrics(mark)}
    wall = rep_span["end"] - rep_span["start"]
    in_jobs = union_s([(max(j["start"], rep_span["start"]), min(j["end"], rep_span["end"]))
                       for j in jobs])
    # attributed: driver time outside Spark jobs, plus each stage's wall
    # as its tasks explain it (slowest task, or task time over the cores
    # it could use); what is left is unexplained waiting
    out["trace.coverage_frac"] = ((wall - in_jobs) + out.pop("spread_s")) / wall
    by_name = {}
    for s in mine:
        by_name.setdefault(s["name"], []).append(s)

    def span_s(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    def jobs_in(name):
        return sum(1 for j in jobs for s in by_name.get(name, []) if s["start"] <= j["start"] <= s["end"])

    out["links.graph_s"] = span_s("operators.links.host_link_graph")
    out["dedup.pairs_s"] = span_s("operators.dedup.simhash_neardup_pairs")
    out["graph.clusters_s"] = span_s("operators.graph.neardup_clusters")
    out["graph.jobs"] = jobs_in("operators.graph.neardup_clusters")
    out["graph.representatives_s"] = span_s("operators.graph.dedup_keep_representative")
    if "pipeline.wave_s" in rep.get("layers", {}):
        out["pipeline.jobs"] = len(jobs)
    return out


def _per_layer(args, wl, reps, setups, check_layers, spans, host) -> dict:
    traced = [r for r in reps if r["traced"]]
    plain = [r for r in reps if not r["traced"]]
    out: dict[str, float] = {
        "session.cold_s": setups[0][0],
        "session.build_s": _median(s[1] for s in setups),
        "session.warmup_s": _median(s[2] for s in setups),
    }
    keys = {k for r in traced for k in r["layers"]}
    for k in keys:
        out[k] = _median(r["layers"].get(k) for r in traced)
    out.update(check_layers)
    inproc = wl.in_process_layers()
    batch_ms = inproc.pop("_batch_ms_per_doc", None)
    out.update(inproc)
    if batch_ms is not None:
        out["worker.plumbing_s"] = out.get("worker.total_s", 0.0) - batch_ms * wl.n_docs / 1000
    traced_rate = _median(r["docs"] / r["wall_s"] for r in traced)
    plain_rate = _median(r["docs"] / r["wall_s"] for r in plain)
    out["trace.overhead_frac"] = 1 - traced_rate / plain_rate if plain_rate else 0.0
    with open(os.path.join(WORK_DIR, "trace", f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"host": host, "spans": spans, "self_s": self_times(spans), "layers": out}, f)
    return out


if __name__ == "__main__":
    sys.exit(main())
