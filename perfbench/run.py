"""Repository benchmark: one closed-loop client drives a seeded workload
through the package's layer functions on ``local[<cores>]``.

    python3 perfbench/run.py --workload pac_upload --seed 1 --seconds 5 --trace 0

Per run: generate the inputs from the seed, compute the expected
outputs with DuckDB, set up a warm session (timed: ``setup_s``), then
run passes of the workload's steps back to back for ``--seconds``,
checking every step's output. Prints every metric by name and unit,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (see
README.md). Everything is written under ``.bench_work/`` in the
checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


def pin_runtime(work: str) -> dict:
    """Pin the runtime before pyspark starts a JVM, and return it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / (1 << 20)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a sixth of the host, 1-4g: the inputs are small, and the rest
        # stays free for the Python workers and whatever shares the host
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 6)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return env


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self.seen: dict[int, str] = {}
        self._halt = threading.Event()

    @staticmethod
    def _tree(root: int) -> dict[int, str]:
        """pid → start time of ``root`` and its descendants."""
        children: dict[int, list[int]] = {}
        start: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            stat = _stat(int(name))
            if stat:
                children.setdefault(int(stat[1]), []).append(int(name))
                start[int(name)] = stat[19]
        out, todo = {}, [root]
        while todo:
            p = todo.pop()
            if p in start:
                out[p] = start[p]
            todo.extend(children.get(p, ()))
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        pids = self._tree(self.root)
        self.seen.update(pids)
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(wl, ctx, out: str) -> tuple[float, float]:
    """Set-up, timed: JVM start, session confs, connector registration,
    source staging, and one warm pass of the workload's steps over its
    inputs (the JIT, connector, streaming and Arrow warm-ups of exactly
    the plans measured). Sets ``ctx.spark``; returns the seconds of the
    whole set-up and of ``get_spark`` alone."""
    t0 = time.perf_counter()
    from pac_data_pipeline_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    ctx.spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    if wl.prepare:
        wl.prepare(ctx)
    for step in wl.steps:
        d = os.path.join(out, step.name)
        os.makedirs(d)
        step.run(ctx, d)
    shutil.rmtree(out)
    return time.perf_counter() - t0, start_s


def run_passes(ctx, steps, out_root: str, seconds: float, log: list) -> list[dict]:
    """Back-to-back passes until ``seconds`` have elapsed; the pass
    under way then finishes. Only ``step.run`` is timed."""
    passes = []
    start = time.perf_counter()
    while True:
        rec = {"steps": {}, "failed": 0}
        for step in steps:
            out = os.path.join(out_root, f"p{len(log)}", step.name)
            os.makedirs(out)
            problem = None
            t0 = time.perf_counter()
            try:
                value = step.run(ctx, out)
                dt = time.perf_counter() - t0
                problem = step.check(ctx, out, value)
            except Exception as exc:  # a failing step is counted, the run goes on
                dt = time.perf_counter() - t0
                problem = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
            shutil.rmtree(out, ignore_errors=True)
            rec["steps"][step.name] = dt
            if problem:
                rec["failed"] += 1
                print(f"FAILED {step.name}: {problem}", file=sys.stderr)
        rec["pass_s"] = sum(rec["steps"].values())
        passes.append(rec)
        log.append(rec)
        if time.perf_counter() - start >= seconds:
            return passes


def stop_session(spark, sampler: RssSampler | None) -> None:
    """Stop Spark, the JVM and every Python worker it forked, and wait
    for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # the Python workers exit when the JVM closes their pipes; kill any
    # that outlive a grace period (matched by start time, so a reused
    # pid is left alone)
    deadline = time.time() + 10
    for pid, started in sorted(sampler.seen.items() if sampler else ()):
        while _alive(pid, started) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid, started):
            os.kill(pid, signal.SIGKILL)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _alive(pid: int, started: str) -> bool:
    stat = _stat(pid)
    return bool(stat) and stat[19] == started and stat[0] != "Z"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes: list[dict], setup_s: float, rows_per_pass: int) -> dict:
    pass_s = median([p["pass_s"] for p in passes])
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (rows_per_pass / pass_s, "1/s"),
    }


def per_layer(spans: list[dict], passes: list[dict], untraced: list[dict], counters: dict,
              spark_counts: dict, start_s: float, peak_mb: float, cores: int, extra: dict) -> dict:
    """Per-pass layer metrics of the traced passes (see README.md)."""
    from spans import LAYERS, layer_times

    n = len(passes)
    traced_s = sum(p["pass_s"] for p in passes)
    times = layer_times(spans)
    total = {k: sum(c.get(k, 0.0) for c in spark_counts.values()) for k in
             ("jobs", "tasks", "tasks_failed", "task_s", "cpu_s", "gc_s", "rows_read", "mb_read", "shuffle_mb", "spill_mb")}
    lay = lambda layer, key: spark_counts.get(layer, {}).get(key, 0.0)  # noqa: E731
    m = {
        "session.start_s": (start_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        "session.jobs": (total["jobs"] / n, "count"),
        "session.tasks": (total["tasks"] / n, "count"),
        "session.task_s": (total["task_s"] / n, "s"),
        "session.cpu_s": (total["cpu_s"] / n, "s"),
        "session.gc_s": (total["gc_s"] / n, "s"),
        "session.slot_busy_frac": (total["task_s"] / (traced_s * cores), "ratio"),
        "session.tasks_failed": (total["tasks_failed"] / n, "count"),
        "sources.rows_read": (total["rows_read"] / n, "count"),
        "sources.mb_read": (total["mb_read"] / n, "MB"),
        "sources.docstore_read_s": (counters.get("docstore_read_s", 0.0) / n, "s"),
        "operators.shuffle_mb": (total["shuffle_mb"] / n, "MB"),
        "operators.spill_mb": (total["spill_mb"] / n, "MB"),
        "operators.dedup_keep_ratio": (
            counters["dedup_kept"] / counters["dedup_in"] if counters.get("dedup_in") else 0.0, "ratio"),
        "plans.jobs": (lay("plans", "jobs") / n, "count"),
        "ext.jobs": (lay("ext", "jobs") / n, "count"),
        "ext.task_s": (lay("ext", "task_s") / n, "s"),
        "ext.python_mb": (lay("ext", "python_mb") / n, "MB"),
        "ext.pair_precision": (extra.get("pair_precision", 0.0), "ratio"),
        "sinks.task_s": (lay("sinks", "task_s") / n, "s"),
        "sinks.python_mb": (lay("sinks", "python_mb") / n, "MB"),
        "sinks.docs_written": (counters.get("docs_written", 0.0) / n, "count"),
        "sinks.verify_ratio": (
            counters["docs_read"] / counters["docs_written"] if counters.get("docs_written") else 0.0, "ratio"),
        "sinks.docs_per_s": (
            (counters["docs_written"] + counters["docs_read"]) / (counters["docstore_write_s"] + counters["docstore_read_s"])
            if counters.get("docs_written") else 0.0, "1/s"),
        "streaming.batches": (
            sum(1 for s in spans if s["name"] == "streaming.cdc.latest_per_user") / n, "count"),
        "action.task_s": (lay("action", "task_s") / n, "s"),
        "action.shuffle_mb": (lay("action", "shuffle_mb") / n, "MB"),
        "action.python_mb": (lay("action", "python_mb") / n, "MB"),
        "unattributed.task_s": (lay("unattributed", "task_s") / n, "s"),
    }
    for layer in LAYERS + ("action",):
        t = times.get(layer, {"calls": 0, "self_s": 0.0})
        m[f"{layer}.calls"] = (t["calls"] / n, "count")
        m[f"{layer}.self_s"] = (t["self_s"] / n, "s")
    covered = sum(t["self_s"] for t in times.values())
    m["trace_coverage_frac"] = (covered / traced_s, "ratio")
    # when a pass takes more than half of --seconds, each half makes one
    # pass and this is the ratio of a single pair: as noisy as pass_s
    m["trace_overhead_frac"] = (
        median([p["pass_s"] for p in passes]) / median([p["pass_s"] for p in untraced]) - 1.0, "ratio")
    return m


def measure(args, wl, ctx, sampler: RssSampler, setup: tuple[float, float], rows_per_pass: int, runtime: dict):
    """Run the passes (untraced, or half untraced then half traced)
    and compute the metrics. Returns (measured passes, all passes,
    metrics)."""
    from workloads import minhash_candidates

    log: list[dict] = []
    out_root = os.path.join(WORK, wl.name, "out")
    sampler.sample()
    sampler.start()
    cpu0 = _cpu_times()
    try:
        if not args.trace:
            passes = run_passes(ctx, wl.steps, out_root, args.seconds, log)
        else:
            from spans import Tracer

            untraced = run_passes(ctx, wl.steps, out_root, args.seconds / 2, log)
            tracer = Tracer(ctx.spark)
            tracer.install()
            ctx.tracer = tracer
            ctx.counters.clear()
            tracer.harvest()  # skip the untraced passes' jobs
            passes = run_passes(ctx, wl.steps, out_root, args.seconds / 2, log)
            spark_counts = tracer.harvest()
            spans = list(tracer.spans)
    finally:
        sampler.stop()
    busy = [b - a for a, b in zip(cpu0, _cpu_times())]
    # host contention during the passes: the share of CPU time the
    # hypervisor gave to other guests (not a metric; printed for context)
    print(f"cpu steal_frac {busy[7] / max(1, sum(busy[:8])):.4f} busy_frac "
          f"{1 - (busy[3] + busy[4]) / max(1, sum(busy[:8])):.4f}")
    # printed on every run; a metric of the traced run only, because the
    # driver JVM's heap grows with GC pressure and so with host load
    print(f"peak rss_mb {sampler.peak_kb / 1024:.1f}")
    if not args.trace:
        return passes, log, end_to_end(passes, setup[0], rows_per_pass)
    extra = {}
    if ctx.counters.get("pairs_found"):
        extra["pair_precision"] = ctx.counters["pairs_found"] / len(passes) / minhash_candidates(ctx)
    metrics = per_layer(spans, passes, untraced, ctx.counters, spark_counts, setup[1], sampler.peak_kb / 1024,
                        int(runtime["SPARK_GRAFT_CPUS"]), extra)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed, "rows": ctx.rows, "runtime": runtime,
                 "spark": spark_counts})
    return passes, log, metrics


def main() -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("pac_data_pipeline_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout of the repository",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(WORK, wl.name)
    shutil.rmtree(work, ignore_errors=True)
    runtime = pin_runtime(work)

    from check import duck_con
    from gen import generate

    data = os.path.join(work, "data")
    manifest = generate(data, args.seed, wl.scale)
    ctx = Ctx(None, data, manifest["rows"], duck_con(data, list(manifest["rows"])))
    for step in wl.steps:
        if step.oracle:
            ctx.oracle(step.oracle)
    rows_per_pass = sum(manifest["rows"][t] for s in wl.steps for t in s.inputs)

    sampler = None
    try:
        setup = start_session(wl, ctx, os.path.join(work, "warm-out"))
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        passes, log, metrics = measure(args, wl, ctx, sampler, setup, rows_per_pass, runtime)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark, sampler)
    attempted = sum(len(p["steps"]) for p in log)
    failed = sum(p["failed"] for p in log)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {wl.name} seed {args.seed} rows {json.dumps(manifest['rows'])}")
    print(f"runtime {json.dumps(runtime)}")
    print(f"passes {len(log)} measured {len(passes)} steps attempted {attempted} failed {failed} "
          f"failed_frac {failed / max(1, attempted):.4f}")
    print("pass_s each " + " ".join(f"{p['pass_s']:.3f}" for p in log))
    for i, p in enumerate(log):
        print(f"pass {i} " + " ".join(f"{k}={v:.3f}" for k, v in p["steps"].items()))
    print(f"counters {json.dumps(ctx.counters)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
