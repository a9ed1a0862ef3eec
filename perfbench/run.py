"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. pins the environment (cores, driver memory, PYTHONPATH for the Python
   workers) and moves into a fresh run directory, so Spark's local dirs,
   ``spark-warehouse/`` and ``derby.log`` land there and are removed at
   the end;
2. sets up: starts the session, stages the seeded inputs and runs a
   warm-up pass with its output checks on inputs of its own. All of that
   is ``setup_s``;
3. runs timed passes back to back until ``--seconds`` have elapsed (at
   least one), on inputs the warm-up never read, and checks their outputs;
4. prints a human-readable report, then, as its last line, one JSON
   object: ``{"correct", "attempted", "failed", "metrics"}``. With
   ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
   the per-layer ones of a traced pass (spans are written to
   ``.perfbench_out/``).

Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "defimap_data_pipelines_spark"
WORKLOADS = ("medallion", "analytics_mix")
DRIVER_MEMORY_MB = 2048


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_memory() -> str:
    """Heap for the driver JVM: 2 GiB, or a quarter of RAM on a smaller box
    (the session's own default, 24g, is above many machines' RAM)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(DRIVER_MEMORY_MB, total_kb // 4096)}m"


def pin_environment(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package (mapInPandas, UDFs) and the
        # benchmark's own sampler
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--driver-java-options",
                shlex.quote(java_opts),
                "pyspark-shell",
            ]
        ),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(pinned)
    return pinned


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    procs = {proc.pid}
    for c in _children(proc.pid):
        procs |= {c, *_children(c)}
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.05)
    for p in procs:
        if _alive(p):
            os.kill(p, 9)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    spark = None
    try:
        pinned = pin_environment(run_dir)
        os.chdir(run_dir)
        sys.path[:0] = [ROOT, HERE]
        from defimap_data_pipelines_spark.session import get_spark

        import runctx
        import spans

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark, f"{args.workload}-s{args.seed}", bool(args.trace))
        ctx = runctx.Context(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            work=os.path.join(run_dir, "work"),
            t_process=T_PROCESS,
        )
        if args.workload == "medallion":
            import medallion as workload
        else:
            import analytics as workload
        result = workload.run(ctx, args.seconds)
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    e2e = {
        "setup_s": (ctx.setup_s, "s"),
        "batch_s": (statistics.median(result.pass_s), "s"),
    }
    print(f"# workload={args.workload} seed={args.seed} passes={len(result.pass_s)} "
          f"attempted={ctx.attempted} failed={ctx.failed} "
          f"failed_frac={ctx.failed / ctx.attempted:.4f}")
    # per-op latency: too few ops per run for a steady percentile, so it
    # is reported here and not among the gated metrics
    print(f"# {result.op_name}_p50_s={statistics.median(result.op_s):.4f} "
          f"(n={len(result.op_s)})")
    print(f"# pinned: SPARK_GRAFT_CPUS={pinned['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEMORY={pinned['SPARK_DRIVER_MEMORY']}")
    # JVM heap sizing makes this spread by 10-20% between runs, too much
    # for a gated metric; it is reported here and with the layer metrics
    print(f"# session.start_s={session_s:.3f} peak_rss_mb={peak_rss:.1f}")
    for name, s, timed in ctx.op_log:
        print(f"# {'timed' if timed else 'setup'} {name} {s:.3f}s")
    for line in ctx.notes:
        print(f"# {line}")
    if args.trace:
        layer = result.layer_metrics
        layer["session.start_s"] = (session_s, "s")
        layer["session.peak_rss_mb"] = (peak_rss, "MB")
        spans_path = os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl"
        )
        tracer.write(spans_path)
        print(f"# spans: {spans_path} ({len(tracer.spans)} spans)")
        metrics = layer
    else:
        metrics = e2e
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": ctx.correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
