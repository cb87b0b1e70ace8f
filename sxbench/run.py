"""sparkx benchmark: one workload, one process, one Spark session.

    python3 sxbench/run.py --workload resume_groups --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
A full record of the run (host noise, provenance, every pass, every check and,
when traced, every span) is written under ``.sxbench_work/records/``.
The exit code is 0 only when every pass and every check succeeded.
See README.md in this directory for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from workloads import SLICE

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sxbench_work")
SETUP_SAMPLES = 3  # the run's own session plus two fresh processes

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "job_s": "s",
              "turns_per_s": "turns/s", "peak_rss_mb": "MiB"}


def _program_importable() -> bool:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import __spark_entry__  # noqa: F401
        import check_contract  # noqa: F401
        import sparkx  # noqa: F401
    except ImportError as ex:
        print(f"sxbench: the program is not importable from {ROOT}: {ex}", file=sys.stderr)
        return False
    return True


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _setup_sample(master: str) -> float:
    out = subprocess.run([sys.executable, os.path.join(HERE, "setup_probe.py"), master],
                         cwd=ROOT, capture_output=True, text=True, timeout=120, check=True)
    return float(out.stdout.strip().splitlines()[-1])


class Context:
    def __init__(self, args, spark, cpus, work):
        from spark_trace import Tracer
        from workloads import Checks

        self.seed, self.seconds, self.corrupt = args.seed, args.seconds, args.corrupt
        self.spark, self.cpus = spark, cpus
        self.work = work
        self.tracer = Tracer(spark, traced=False)
        self.checks = Checks()


def _measure(ctx, workload, trace: bool, watch) -> list[dict]:
    """First pass, warm-up passes, then steady passes for ``ctx.seconds``.
    A traced run traces the first pass, and runs its steady passes as
    untraced, traced, traced, untraced (repeated, at least once), so that
    drift between passes cancels out of the tracing overhead.  Memory is
    watched during passes only, not during checks."""
    passes = []

    def one(label, kind, traced):
        ctx.tracer.traced = traced
        watch.resume()
        ctx.tracer.begin_pass(label)
        extra = workload.warmup(ctx, label) if kind == "warmup" else workload.run_pass(ctx, label)
        p = ctx.tracer.end_pass()
        watch.pause()
        p.update(kind=kind, extra=extra)
        if kind != "warmup":
            p["layers"] = workload.layers(ctx, p)
            workload.check(ctx, p)
        passes.append(p)
        print(f"sxbench: {label} {p['wall_s']:.3f} s, {p['jobs']} jobs", file=sys.stderr, flush=True)

    one("first", "first", trace)
    for i in range(workload.warmup_passes):
        one(f"warmup{i}", "warmup", False)
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        one(f"steady{i}", "steady", trace and i % 4 in (1, 2))
        i += 1
        if time.perf_counter() >= t_end and (not trace or i % 4 == 0):
            break
    ctx.tracer.finish()
    return passes


def _per_layer(ctx, workload, passes, host_before, host_after) -> dict:
    from stats import median
    from spark_trace import SPAN_LEVELS

    tracer, turns = ctx.tracer, workload.turns
    steady = [p for p in passes if p["kind"] == "steady"]
    traced = [p for p in steady if p["traced"]]
    untraced = [p for p in steady if not p["traced"]]

    def pass_layers(p) -> dict:
        c: dict[str, float] = {}
        for call in p["calls"]:
            for k, v in call.get("layers", {}).items():
                if k != "exec.task_skew":
                    c[k] = c.get(k, 0.0) + v
        biggest = max((call["layers"] for call in p["calls"]
                       if "exec.largest_stage_run_s" in call.get("layers", {})),
                      key=lambda layer: layer["exec.largest_stage_run_s"], default={})
        c["exec.task_skew"] = biggest.get("exec.task_skew", 0.0)
        c["exec.idle_share"] = 1.0 - c.get("exec.run_s", 0.0) / (ctx.cpus * p["wall_s"])
        c["kernels.route_share"] = c.get("kernels.rows_in", 0.0) / turns
        c["table_sink.bytes_per_turn"] = c.get("table_sink.bytes", 0.0) / turns
        selfs = tracer.self_times(tracer.descendants(p["span"]))
        for lvl in SPAN_LEVELS[1:]:
            c[f"trace.self_{lvl}_s"] = selfs[lvl]
        c.update(p["layers"])
        return c

    per_pass = [pass_layers(p) for p in traced]
    out = {k: median([c.get(k, 0.0) for c in per_pass]) for k in PER_LAYER}
    first = pass_layers(passes[0])
    for k in ("pipeline.driver_self_s", "pipeline.jobs", "kernels.boot_s", "kernels.init_s"):
        out[f"first_pass.{k.split('.', 1)[1]}"] = first.get(k, 0.0)
    out["trace.self_run_s"] = tracer.self_times({tracer.run_span["id"]})["run"]
    out["trace.overhead"] = median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in untraced])
    # jobs the scheduler ran during a traced pass that no call's job group
    # accounts for: work added by tracing itself
    out["trace.jobs_delta"] = median([
        p["jobs"] - sum(c["layers"].get("pipeline.jobs", 0) for c in p["calls"])
        for p in passes if p["traced"]])
    out["memory.jvm_peak_mb"] = median([p["jvm_peak_mb"] for p in traced])
    out["host.spin_s"] = median([host_before["spin_s"], host_after["spin_s"]])
    out["host.load_avg"] = (host_before["load_avg_1m"] + host_after["load_avg_1m"]) / 2
    ctx.checks.add("trace.jobs_delta_is_zero", out["trace.jobs_delta"] == 0,
                   f"tracing added {out['trace.jobs_delta']} jobs per pass")
    assert set(out) == set(PER_LAYER), set(out) ^ set(PER_LAYER)
    return out


# Every per-layer metric a traced run prints.  Layers a workload never
# exercises report 0, so every run prints the same names.
PER_LAYER = [
    "pipeline.driver_self_s", "pipeline.jobs",
    "kernels.rows_in", "kernels.route_share", "kernels.python_s", "kernels.boot_s",
    "kernels.init_s", "kernels.bytes_sent", "kernels.bytes_received",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.tasks", "exec.task_skew", "exec.idle_share",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.exchanges", "scan.bytes",
    "checkpoint.resume_s", "checkpoint.group_p50_s", "checkpoint.group_max_s",
    "checkpoint.groups_run", "checkpoint.rework_ratio",
    "table_sink.rows", "table_sink.files", "table_sink.bytes", "table_sink.bytes_per_turn",
    "ops.build_s", "ops.action_s", "ops.build_jobs",
    *[f"ops.{q}.{m}" for q in SLICE for m in ("build_s", "action_s", "build_jobs")],
    "first_pass.driver_self_s", "first_pass.jobs", "first_pass.boot_s", "first_pass.init_s",
    "trace.self_run_s", "trace.self_pass_s", "trace.self_call_s", "trace.self_job_s",
    "trace.self_stage_s", "trace.overhead", "trace.jobs_delta", "memory.jvm_peak_mb",
    "host.spin_s", "host.load_avg",
]


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("share", "ratio", "overhead", "skew")):
        return "ratio"
    return "load" if name == "host.load_avg" else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests run tiny inputs)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the program's output before each check, to prove the checks fail")
    args = ap.parse_args(argv)
    if not _program_importable():
        return 2
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload](args.scale)
    _isolate_env()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    cpus = host.cpus()
    master = f"local[{cpus}]"
    host_before = host.snapshot()
    setup = [_setup_sample(master) for _ in range(SETUP_SAMPLES - 1)]
    t0 = time.perf_counter()
    from sparkx.session import build_session

    spark = build_session(app_name=f"sxbench-{args.workload}", master=master)
    setup.append(time.perf_counter() - t0)

    from setup_probe import stop_session
    from stats import median

    ctx = Context(args, spark, cpus, work)
    watch = host.MemoryWatch()
    try:
        t_stage = time.perf_counter()
        workload.stage(ctx)
        stage_s = time.perf_counter() - t_stage
        watch.start()
        try:
            passes = _measure(ctx, workload, bool(args.trace), watch)
        finally:
            peaks = watch.stop()
    finally:
        stop_session(spark)
    for p, (python_mb, jvm_mb) in zip(passes, peaks, strict=True):
        p.update(peak_mb=python_mb, jvm_peak_mb=jvm_mb)
    host_after = host.snapshot()

    steady = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    job_s = median([p["wall_s"] for p in steady])
    if args.trace:
        metrics = _per_layer(ctx, workload, passes, host_before, host_after)
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = {"setup_s": median(setup), "first_pass_s": passes[0]["wall_s"], "job_s": job_s,
                   "turns_per_s": workload.turns / job_s,
                   "peak_rss_mb": median([p["peak_mb"] for p in steady])}
        units = END_TO_END
    failed = ctx.checks.failed
    attempted = len(passes) + len(ctx.checks.results)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "corrupt": args.corrupt,
        "git_sha": host.git_sha(ROOT), "program_digest": host.program_digest(ROOT),
        "cpus": cpus, "host_before": host_before, "host_after": host_after,
        "setup_samples_s": setup, "stage_inputs_s": stage_s, "turns": workload.turns,
        "passes": [{k: v for k, v in p.items() if k != "extra"} for p in passes],
        "checks": ctx.checks.results, "metrics": metrics,
        "spans": ctx.tracer.spans if args.trace else [],
    }
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for c in ctx.checks.results:
        if not c["ok"]:
            print(f"sxbench: check failed: {c['check']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
