"""Layered lifecycle benchmark for plateau_spark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_mutate --seed 1 --seconds 10 --trace 0

The last line of standard output is the result object; the line before it
is a ``{"detail": ...}`` object with the environment stamp and every
per-workload figure. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _reported_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics the result line carries: BENCHMARK.json's
    ``end_to_end`` list, or ``per_layer`` in a traced run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers). It reads each process's own high-water
    mark between ops, on the main thread: a sampling thread would contend
    for the GIL with the timed calls."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, proctree.tree_hwm_kb())


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat: steal is time the hypervisor
    ran other guests while this one's virtual CPUs were ready to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _git_stamp() -> dict:
    """HEAD and dirty flag, read from the checkout's .git if there is one."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return {"head": None, "dirty": None}
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=30).stdout.strip()
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
                               capture_output=True, text=True, timeout=30).stdout.strip()
        return {"head": head or None, "dirty": bool(dirty)}
    except (OSError, subprocess.SubprocessError):
        return {"head": None, "dirty": None}


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if os.path.exists(os.path.join(d, f))
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)  # the JVM's Popen
    jvm_kids = proctree.descendants(jvm.pid) if jvm is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in jvm_kids):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- measurement -------------------------------------------------------------
def _ms(seconds) -> list[float]:
    return [s * 1000.0 for s in seconds]


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, "plateau_spark")):
        print(f"perfbench: no plateau_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    units = _reported_units(args.trace)

    import selftest

    selftest.run()
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp_dir = os.path.join(run_dir, "tmp")
    local_dir = os.path.join(run_dir, "spark-local")
    for d in (tmp_dir, local_dir):
        os.makedirs(d)
    root_entries = set(os.listdir(ROOT))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "SPARK_LOCAL_DIRS": local_dir,
        "TMPDIR": tmp_dir,
        # Python workers start from the JVM's cwd: make the package importable
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    load_start = _loadavg()
    ticks_start = _cpu_ticks()
    sampler = PeakRss()
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cpus": cpus, "cpu_count": os.cpu_count(),
                    **_git_stamp()}
    spark = None
    tracer = None
    try:
        cpu0 = proctree.tree_cpu_s()
        t0 = time.perf_counter()
        from plateau_spark.core.store import Store
        from plateau_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            **{"spark.local.dir": local_dir,
               "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - t0
        detail["default_parallelism"] = spark.sparkContext.defaultParallelism

        jobs: list[dict] = []
        if args.trace:
            import layers
            import tracing

            tracer = tracing.Tracer(spark)
            make_store = lambda root: tracing.TracingStore(root, tracer)  # noqa: E731
        else:
            make_store = Store
        work = workloads.WORKLOADS[args.workload](spark, args.seed, make_store, tmp_dir)

        # in a traced run the fixture build and the warm-up are op -1
        setup_op = contextlib.nullcontext()
        if tracer is not None:
            tracer.install()
            tracer.mark_seen_jobs()
            tracer.active = True
            setup_op = tracer.op(-1, "setup")
        with setup_op:
            t1 = time.perf_counter()
            work.setup(os.path.join(run_dir, "store"))
            fixture_s = time.perf_counter() - t1
            t1 = time.perf_counter()
            warm_ok = work.warm_up()
            warm_s = time.perf_counter() - t1
        if tracer is not None:
            tracer.active = False
            jobs.extend(tracer.jobs_since(-1))
            setup_footprint = layers.footprint(Store(work.store.root), work.DATASETS)
        setup_cpu_s = proctree.cpu_since(cpu0, proctree.tree_cpu_s())
        sampler.sample()
        attempted, failed = 1, 0 if warm_ok else 1
        setup_s = session_s + fixture_s + warm_s
        detail["setup"] = {"session_s": session_s, "fixture_s": fixture_s, "warm_up_s": warm_s,
                           "warm_up_ok": warm_ok}

        op_s: list[float] = []
        read_s: list[float] = []
        by_kind: dict[str, list[float]] = {}
        traced_wall: list[float] = []
        untraced_wall: list[float] = []
        explained: list[dict] = []
        footprints: list[dict] = []
        cycle = work.CYCLE
        steps: list[dict] = []

        def run_step(i: int, fn) -> bool:
            """Run one op; False once the loop must stop (an op raised)."""
            nonlocal attempted, failed
            # pairs of ops alternate, and the pattern flips each cycle: over
            # two cycles every position is traced once and untraced once
            n = len(cycle)
            traced = tracer is not None and ((i % n) // 2 + i // n) % 2 == 1
            ticks0 = _cpu_ticks()
            t_step = time.perf_counter()
            attempted += 1
            try:
                if traced:
                    tracer.active = True
                    with tracer.op(i, "step") as root:
                        kind, samples, ok = fn()
                        root["name"] = kind
                else:
                    kind, samples, ok = fn()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failed += 1
                return False
            finally:
                if tracer is not None:
                    tracer.active = False
            wall = time.perf_counter() - t_step
            failed += 0 if ok else 1
            if tracer is not None:
                if traced:
                    jobs.extend(tracer.jobs_since(i))
                    plain = Store(work.store.root)
                    explained.extend(layers.explain_reads(plain, work.reads))
                    footprints.append(layers.footprint(plain, work.DATASETS))
                    traced_wall.append(wall)
                else:
                    tracer.mark_seen_jobs()
                    untraced_wall.append(wall)
            timed_py_cpu[0] += sum(s.py_cpu for s in samples)
            for s in samples:
                if s.kind == work.OP_KIND:
                    op_s.append(s.seconds)
                    by_kind.setdefault(kind, []).append(s.seconds)
                if s.kind == "read":
                    read_s.append(s.seconds)
            if i == nominal_ops - 1:
                nominal_n[:] = [len(op_s), len(read_s)]
            ticks1 = _cpu_ticks()
            steps.append({"i": i, "kind": kind, "wall": wall, "traced": traced, "ok": ok,
                          "op_s": [s.seconds for s in samples if s.kind == work.OP_KIND],
                          "steal": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])})
            sampler.sample()
            return True

        # Whole cycles only, so every run has the same mix of op kinds, and
        # at least the workload's MIN_CYCLES (two or more, so a traced run
        # traces every position). The tail percentile is fixed by the
        # sample count of those nominal cycles.
        nominal_ops = work.MIN_CYCLES * len(cycle)
        nominal_n = [0, 0]
        timed_py_cpu = [0.0]  # this process's CPU inside the timed calls
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        jit_loop = proctree.jit_thread_cpu(jvm_pid)
        jvm_loop = proctree.process_cpu_s(jvm_pid)
        t_loop = time.perf_counter()
        i = 0
        alive = True
        while alive and (i % len(cycle) or i < nominal_ops
                         or time.perf_counter() - t_loop < args.seconds):
            alive = run_step(i, lambda: work.step(i))
            i += 1
        loop_s = time.perf_counter() - t_loop
        # CPU of the loop's ops: this process inside the timed calls, and
        # the JVM less its JIT threads, which are still compiling the warm
        # code paths at a pace set by the CPU time they get, not by the
        # ops. Python workers are left out: while sizing, they used no CPU
        # in four of five ingest cycles and 3 s in the fifth, when the JVM
        # (which retires idle workers on a timer) forked one that spent it
        # importing.
        jvm_cpu_s = proctree.process_cpu_s(jvm_pid) - jvm_loop
        jit_cpu_s = proctree.cpu_since(jit_loop, proctree.jit_thread_cpu(jvm_pid))
        loop_cpu_s = timed_py_cpu[0] + jvm_cpu_s - jit_cpu_s
        loop_ops = len(steps)
        if alive and hasattr(work, "finish"):
            run_step(i, work.finish)
        if tracer is not None:
            tracer.uninstall()

        op_sum = stats.summarize(_ms(op_s), nominal_n[0])
        read_sum = stats.summarize(_ms(read_s), nominal_n[1])
        detail.update({
            "op": op_sum, "read": read_sum,
            "op_by_kind_p50_ms": {k: statistics.median(_ms(v)) for k, v in by_kind.items()},
            "loop_s": loop_s,
            "loop_cpu": {"driver_timed_s": timed_py_cpu[0], "jvm_s": jvm_cpu_s,
                         "jit_s": jit_cpu_s},
            "failed_frac": stats.failed_frac(attempted, failed),
            **work.detail(),
        })
        metrics = {
            "setup_s": setup_s,
            "setup_cpu_s": setup_cpu_s,
            "cpu_ms_per_op": 1000.0 * loop_cpu_s / loop_ops,
            "op_p50_ms": op_sum.get("p50"),
            "op_tail_ms": op_sum.get("tail"),
            "ops_per_s": loop_ops / loop_s,
            "space_amp": work.space_amp,
        }
        detail["metrics"] = metrics
        if tracer is not None:
            loop_ops_ids = [s["i"] for s in steps if s["traced"]]
            per_layer = layers.per_layer(tracer, jobs, explained, footprints, loop_ops_ids)
            detail["per_layer_setup"] = layers.per_layer(tracer, jobs, [], [setup_footprint],
                                                         [-1])
            per_layer["trace.overhead_frac"] = (
                statistics.mean(traced_wall) / statistics.mean(untraced_wall) - 1.0
            )
            spans_path = os.path.join(ROOT, ".perfbench", "spans",
                                      f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans_path, jobs)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
            detail["per_layer_all"] = per_layer
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        try:
            if spark is not None:
                sampler.sample()
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass  # other runs or the spans directory remain
    leftover = _tree_bytes(run_dir) if os.path.exists(run_dir) else 0
    leftover += sum(_tree_bytes(os.path.join(ROOT, e))
                    for e in set(os.listdir(ROOT)) - root_entries - {".perfbench"})
    detail.update({
        "peak_rss_mb": sampler.peak_kb / 1024.0,
        "loadavg_per_core": [load_start / cpus, _loadavg() / cpus],
        "leftover_bytes": leftover,
        "steps": steps,
    })
    ticks_end = _cpu_ticks()
    detail["steal_frac"] = (ticks_end[1] - ticks_start[1]) / max(1, ticks_end[0] - ticks_start[0])
    detail["quiet"] = max(detail["loadavg_per_core"]) < 0.25
    if args.trace:
        reported = {**per_layer, **{f"setup.{k}": v for k, v in detail["per_layer_setup"].items()}}
    else:
        reported = metrics
    # a metric the run did not produce (a wrapper that never fired) is
    # None, which makes the run incorrect
    out = {k: {"value": reported.get(k), "unit": u} for k, u in units.items()}
    correct = failed == 0 and all(v["value"] is not None for v in out.values())
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
