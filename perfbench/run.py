#!/usr/bin/env python3
"""Benchmark of the Bloom-filter engine's paper-core operators.

    python3 perfbench/run.py --workload ratings_fp_sweep --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, Spark at local[nproc]. The
inputs are generated from ``--seed``; every op's output is checked.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_OPS = 1  # after the cold op, before timing; the same on every commit
MIN_TIMED_OPS = 2  # one op alone moves with every slow op
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over CPUs. A run that was slow because the host was busy
    shows it here."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def driver_mem() -> str:
    """A quarter of the box's memory, at most 2 GiB (get_spark's
    default of 24g is more than many boxes have)."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(512, min(2048, total_kb // 4096))}m"


def pin_env(work: str, trace: bool) -> dict:
    """Environment for the driver, the JVM and the Python workers.
    Set before the JVM starts, so every process inherits it."""
    dirs = {d: os.path.join(work, d) for d in ("local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    submit = [
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']}",
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return dirs


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


class Runner:
    """Runs one workload's ops in one Spark session and counts them."""

    def __init__(self, workload):
        self.w = workload
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n = 0

    def start(self) -> float:
        from mrbf_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        return time.perf_counter() - t

    def group(self) -> str:
        self.n += 1
        return f"op-{self.n}"

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors += errors

    def op(self) -> tuple[object, float, str]:
        """One op under its own job group; returns (result, seconds, group)."""
        from mrbf_spark.registry import release_scoped_caches

        group = self.group()
        self.spark.sparkContext.setJobGroup(group, self.w.name)
        t = time.perf_counter()
        try:
            result = self.w.op(self.spark)
        except Exception as exc:  # a failed op is counted, the run goes on
            self.record([f"{group}: {type(exc).__name__}: {str(exc)[:300]}"])
            return None, time.perf_counter() - t, group
        finally:
            release_scoped_caches()
        return result, time.perf_counter() - t, group

    def checked_op(self) -> tuple[float, str]:
        steal0 = steal_s()
        result, dt, group = self.op()
        if result is not None:
            self.record(self.w.check(result))
        log(f"{group} {dt:.3f}s (host steal {steal_s() - steal0:.2f}s)")
        return dt, group

    def timed_loop(self, seconds: float, min_ops: int = MIN_TIMED_OPS) -> list[tuple[float, str]]:
        out = []
        end = time.perf_counter() + seconds
        while len(out) < min_ops or time.perf_counter() < end:
            out.append(self.checked_op())
        return out


def setup(runner: Runner) -> tuple[float, float]:
    """Session start plus the cold op, then the fixed warm-up.
    Returns (session start seconds, set-up seconds)."""
    t, steal0 = time.perf_counter(), steal_s()
    start_s = runner.start()
    result, _, _ = runner.op()
    setup_s = time.perf_counter() - t
    log(f"set-up {setup_s:.3f}s (session {start_s:.3f}s, host steal {steal_s() - steal0:.2f}s)")
    runner.w.prepare(runner.spark)  # the check's reference, after timing
    if result is not None:
        runner.record(runner.w.check(result))
    for _ in range(WARMUP_OPS):
        runner.checked_op()
    return start_s, setup_s


def end_to_end(runner: Runner, seconds: float) -> dict:
    from spans import RssSampler

    with RssSampler() as rss:
        _, setup_s = setup(runner)
        times = [dt for dt, _ in runner.timed_loop(seconds)]
    run_s = statistics.median(times)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": runner.w.rows / run_s,
        "peak_rss_mb": rss.peak / 2**20,
    }


def per_layer(runner: Runner, seconds: float, work: str, log_dir: str) -> dict:
    import headline
    import spans as sp
    from workloads import check_counts

    start_s, _ = setup(runner)
    # the layer calls the op makes; each traced op must make the same
    calls = sp.CallLog(exclude=(runner.w.engine_op,))
    with calls.recording() as op_calls:
        plain = [runner.checked_op()]
    log(f"the op makes {len(op_calls)} layer calls")
    plain += runner.timed_loop(seconds / 2 - plain[0][0], min_ops=0)

    tr = sp.Tracer(runner.spark.sparkContext, calls)
    traced, end = [], time.perf_counter() + seconds / 2
    while not traced or time.perf_counter() < end:
        op_id = len(traced)
        try:
            t = runner.w.traced(runner.spark, tr, op_id)
        except Exception as exc:  # counted like a failed op
            runner.record([f"traced {op_id}: {type(exc).__name__}: {str(exc)[:300]}"])
            break
        diff = sp.call_diff(op_calls, tr.op_calls[op_id])
        runner.record(runner.w.check(t["result"]) + ([f"traced {op_id}: {diff}"] if diff else []))
        traced.append(t)
        log(f"traced op {op_id} {sp.find(tr.spans, 'op', op_id)[0].seconds:.3f}s")

    sf_dir = headline.generate(ROOT, os.path.join(work, "catalog"))
    recorded = headline.recorded_counts()
    # One pass: the session is warm from the workload's ops; each key's
    # own plans still compile here (a second, warm pass costs ~20 s more).
    cat_s, cat_rows = headline.run_pass(runner.spark, sf_dir, "catalog")
    runner.record(check_counts(cat_rows, recorded))
    log(f"catalog pass {sum(cat_s.values()):.3f}s")

    runner.spark.stop()
    events = sp.parse_event_log(sp.event_log_file(log_dir))
    by_group = events.jobs_by_group()

    # driver and tables: the op exactly as the untraced run calls it
    jobs, stages, gaps, in_rows, in_bytes = [], [], [], [], []
    for dt, group in plain:
        ids = by_group.get(group, [])
        tot, n_stages = events.totals(ids)
        jobs.append(len(ids))
        stages.append(n_stages)
        gaps.append(dt - events.busy_seconds(ids))
        in_rows.append(tot.input_rows)
        in_bytes.append(tot.input_bytes)
    failed_tasks = sum(s.failed_tasks for s in events.stages.values())

    # layers: the traced ops, one span per layer
    per_op = []
    for op_id, t in enumerate(traced):
        layer = functools.partial(sp.layer, tr.spans, by_group, op_id)
        call_s, _ = layer("build.call")
        exec_s, _ = layer("build.exec")
        _, build_ids = layer("build")
        build, _ = events.totals(build_ids)
        probe_s, probe_ids = layer("probe")
        plain_s, _ = layer("semijoin.plain")
        op_s = layer("op")[0]
        per_op.append({
            "trace.op_s": op_s,
            "pipeline.split_s": layer("pipeline.split")[0],
            "build.call_s": call_s,
            "build.exec_s": exec_s,
            "build.jobs": len(build_ids),
            "build.tasks": build.tasks,
            "build.shuffle_write_bytes": build.shuffle_write_bytes,
            "build.spill_bytes": build.spill_bytes,
            "build.gc_s": build.gc_ms / 1000.0,
            "build.filter_bytes": t["filter_bytes"],
            "build.rows_per_s": t["build_rows"] / (call_s + exec_s),
            "build.plain_spark_s": layer("build.plain_spark")[0],
            "build.op_share": (call_s + exec_s) / op_s,
            "probe.exec_s": probe_s,
            "probe.jobs": len(probe_ids),
            "probe.rows": t["probe_rows"],
            "probe.rows_per_s": t["probe_rows"] / probe_s,
            "probe.op_share": probe_s / op_s,
            "probe.broadcast_bytes": events.broadcast_of(probe_ids),
            "probe.hit_ratio": t["hits"] / t["probe_rows"],
            "probe.fp_rate_over_p": t["fp_rate_over_p"],
            "semijoin.survivor_ratio": t["survivors"] / t["probe_rows_first"],
            "semijoin.useful_ratio": t["exact"] / t["survivors"] if t["survivors"] else 0.0,
            "semijoin.plain_s": plain_s,
            "semijoin.vs_plain": t["bloom_path_s"] / plain_s,
        })
    med = statistics.median
    out = {k: med([m[k] for m in per_op]) for k in per_op[0]} if per_op else {}
    out["trace.overhead_s"] = out.pop("trace.op_s", 0.0) - med([dt for dt, _ in plain])
    out.update({
        "session.start_s": start_s,
        "tables.input_rows": med(in_rows),
        "tables.input_bytes": med(in_bytes),
        "driver.jobs_per_op": med(jobs),
        "driver.stages_per_op": med(stages),
        "driver.gap_s": med(gaps),
        "driver.failed_tasks": failed_tasks,
    })
    out.update({f"catalog.{k}.s": v for k, v in cat_s.items()})
    return out


def shutdown(runner: Runner | None) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from spans import process_tree

    if runner is not None and runner.spark is not None:
        try:
            runner.spark.stop()
        except Exception as exc:  # the JVM may be gone; still reap below
            log(f"spark.stop failed: {type(exc).__name__}: {exc}")
    started = set(process_tree(os.getpid())) - {os.getpid()}
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    end = time.time() + 15
    while time.time() < end and any(map(_alive, started)):
        time.sleep(0.2)
    for pid in filter(_alive, started):
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def format_table(metrics: dict) -> str:
    width = max(len(k) for k in metrics)
    return "\n".join(
        f"{k:<{width}}  {m['value']:>16.6g}  {m['unit']}" for k, m in metrics.items()
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mrbf_spark")):
        print(f"perfbench: no mrbf_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = pin_env(work, bool(args.trace))
    sys.path[:0] = [ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    runner, steal0 = None, steal_s()
    try:
        os.makedirs(os.path.join(work, "data"))
        runner = Runner(WORKLOADS[args.workload](os.path.join(work, "data"), args.seed))
        if args.trace:
            values = per_layer(runner, args.seconds, work, dirs["eventlog"])
        else:
            values = end_to_end(runner, args.seconds)
    finally:
        shutdown(runner)
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    for e in runner.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(f"{args.workload} seed={args.seed} nproc={nproc()} trace={args.trace} "
          f"ops={runner.attempted} failed={runner.failed} host_steal_s={steal_s() - steal0:.1f}")
    print(format_table(metrics))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
