"""Wire-to-sink CDC benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a Spark session, warms up, measures for ``--seconds`` seconds,
checks the sink contents against the generator's ground truth, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (a separate run that also reports its own overhead). Every run leaves a
run record, and a traced run its spans, under ``.perfbench_run/`` in the
checkout. The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# Spark settings the benchmark fixes. Driver memory is a deployment setting
# sized for a 15 GB, 4-core box: the engine's 48g default lets the heap grow
# with GC timing, which would make peak_rss_mb measure the collector.
DRIVER_MEMORY = "2g"
# the SQL status store must keep every execution of a run for the trace
RETAINED_EXECUTIONS = "100000"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick precision)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """The checkout is not a git repository when the benchmark runs, so the
    record identifies the code by a digest of the engine's sources."""
    h = hashlib.sha256()
    for base in ("deltaforge_spark", "perfbench"):
        for root, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def spark_conf(workdir: str, slots: int) -> dict:
    from deltaforge_spark.session import RUNTIME_CONF

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.master": f"local[{slots}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.deltaforge.checkpointDir": os.path.join(workdir, "checkpoints"),
        "spark.sql.ui.retainedExecutions": RETAINED_EXECUTIONS,
    }
    # the engine's own runtime conf last, as deltaforge_spark.session does
    conf.update(RUNTIME_CONF)
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    from deltaforge_spark.session import apply_runtime_conf

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_runtime_conf(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM ends when
    its stdin closes, taking the Python worker daemons it started along."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def failed_tasks(spark) -> int:
    """Failed tasks over the whole application (local mode: one executor)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    return sum(int(execs.apply(i).failedTasks()) for i in range(execs.size()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    boot_s = process_age_s()

    sys.path[:0] = [ROOT]
    try:
        import deltaforge_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark's Python workers import the engine and read temp space from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # spark-submit's launcher JVM would otherwise write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return run_workload(args, wl.WORKLOADS[args.workload], workdir, boot_s)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_workload(args, workload_cls, workdir: str, boot_s: float) -> int:
    import probes

    nproc = len(os.sched_getaffinity(0))
    loadavg = os.getloadavg()[0]

    # spans are recorded only in the traced passes, after the untraced
    # measurement the overhead is judged against
    tracer = probes.Tracer()
    w = workload_cls(workdir, args.seed, args.seconds, tracer)
    phases: dict[str, float] = {}
    t = time.perf_counter()
    w.generate()
    phases["generate"] = time.perf_counter() - t

    # cores the workload's own helper processes keep busy are not Spark's
    conf = spark_conf(workdir, max(1, nproc - workload_cls.reserved_cores))
    spark = None
    traced: list = []
    try:
        with probes.RssSampler() as rss:
            t, ticks = time.perf_counter(), probes.cpu_ticks()
            spark = start_session(conf)
            start_s = time.perf_counter() - t
            w.spark = spark
            t = time.perf_counter()
            w.warmup()
            warmup_s = time.perf_counter() - t
            setup_s = boot_s + start_s + warmup_s
            setup_steal = probes.steal_share(ticks, probes.cpu_ticks())

            t, ticks = time.perf_counter(), probes.cpu_ticks()
            m = w.measure(args.seconds)
            phases["measure"] = time.perf_counter() - t
            measure_steal = probes.steal_share(ticks, probes.cpu_ticks())
            t = time.perf_counter()
            if args.trace:
                tracer.spark, tracer.enabled = spark, True
                end = time.perf_counter() + args.seconds / 2
                while not traced or time.perf_counter() < end:
                    traced.append(w.trace_pass())
                tracer.enabled = False
            phases["trace"] = time.perf_counter() - t
            t = time.perf_counter()
            attempted, failed, check = w.verify()
            phases["verify"] = time.perf_counter() - t
            pins_end = probes.live_pins(spark)
            ckpt_bytes = probes.dir_bytes(conf["spark.deltaforge.checkpointDir"])
            task_failures = failed_tasks(spark)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        phases["stop"] = time.perf_counter() - t

    attempted += m.attempted
    failed += m.failed + task_failures
    values = {
        "records_per_s": m.records / statistics.median(m.walls),
        "latency_p50_ms": probes.weighted_percentile(m.latencies, 50) * 1000,
        "latency_p99_ms": probes.weighted_percentile(m.latencies, 99) * 1000,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    e2e = {k: (values[k], u) for k, u in probes.END_TO_END_UNITS.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_1m_before": loadavg,
        "git_head": git_head(), "source_digest": source_digest(),
        "spark_conf": conf, "python": sys.version.split()[0],
        "inputs": w.info,
        "setup": {"boot_s": boot_s, "session_start_s": start_s, "warmup_s": warmup_s},
        "phases_s": phases,
        # share of CPU time the hypervisor gave to other guests: a run whose
        # figures are off with a high share here measured a loaded host
        "cpu_steal_share": {"setup": setup_steal, "measure": measure_steal},
        "pass_walls_s": m.walls, "latency_samples": sum(n for _v, n in m.latencies),
        "attempted": attempted, "failed": failed,
        "check": check, "failed_spark_tasks": task_failures,
        "leak_probe": {"plans.lineage.live_pins_end": pins_end,
                       "plans.lineage.checkpoint_bytes_end": ckpt_bytes},
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    if m.stream is not None:
        late = m.stream["generator_late_ms"]
        record["stream"] = {k: v for k, v in m.stream.items() if k != "progress"}
        record["stream"]["generator_late_ms"] = {
            "p50": probes.percentile(late, 50), "max": max(late)} if late else {}
    out = e2e
    if args.trace:
        layers = probes.layer_metrics(
            session=(start_s, warmup_s), traced=traced, untraced_walls=m.walls,
            check=check, stream=m.stream, pins_end=pins_end, ckpt_bytes=ckpt_bytes,
        )
        record["per_layer"] = layers
        doc = probes.trace_document(
            workload=args.workload, seed=args.seed, tracer=tracer, traced=traced,
            layers=layers, untraced_walls=m.walls, stream=m.stream,
        )
        _write_json(os.path.join(RUN_DIR, "traces", _stem(args) + ".json"), doc)
        out = {k: (v, probes.LAYER_UNITS[k]) for k, v in layers.items()}
    _write_json(os.path.join(RUN_DIR, "records", _stem(args) + ".json"), record)

    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()},
    }
    if failed:
        print(f"perfbench: output check failed: {json.dumps(check)}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _stem(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"


def _write_json(path: str, doc) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
