"""User-workload benchmark: one driver thread runs a workload's cycles of
public-API calls in a closed loop on a local[4] session, checks every
output, and prints its metrics as the last line of stdout.

    python3 perfbench/run.py --workload corpus_index --seed 1 \\
        --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` the
per-layer metrics of a traced run, writes its spans as JSONL and a
self-time summary under ``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
APP_NAME = "perfbench"

#: set-ups per run (setup_s is the median) and untimed warm-up cycles
SETUPS = 3
WARMUP_CYCLES = 1
#: the loop always times at least this many cycles
MIN_CYCLES = 2

DRIVER_MEMORY = "4g"

#: (name, unit) of the per-layer metrics, emitted for every workload; a
#: layer the workload does not reach reads 0
PER_LAYER = [
    ("resource.prepare.s", "s"), ("resource.changed", "count"),
    ("multi_file.versions_built", "count"),
    ("multi_file.versions_reused", "count"),
    ("sources.snapshot.save.s", "s"), ("sources.snapshot.load.s", "s"),
    ("sources.snapshot.bytes", "bytes"),
    ("operators.merge.s", "s"),
    ("sources.gtfs_read.s", "s"), ("sources.gtfs_read.rows", "count"),
    ("sources.gtfs_write.s", "s"), ("sources.gtfs_write.bytes", "bytes"),
    ("operators.tasks.s", "s"),
    ("pipeline.checkpoint.s", "s"),
    ("llm.dedup.classify.s", "s"), ("llm.dedup.ingest.s", "s"),
    ("llm.dedup.remove.s", "s"),
    ("llm.dedup.verdict.exact", "count"), ("llm.dedup.verdict.near", "count"),
    ("llm.dedup.verdict.novel", "count"),
    ("llm.dedup.index_files", "count"), ("llm.dedup.index_bytes", "bytes"),
    ("tools.checkpoints.pinned_rdds", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("trace.cycle_s", "s"), ("trace.overhead_s", "s"),
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def wait_for_previous_jvm(timeout_s: float = 60.0) -> float:
    """Block until no earlier run's JVM (launched with our app name on
    its command line) is alive; returns the seconds waited."""
    marker = f"spark.app.name={APP_NAME}".encode()
    start = time.monotonic()
    deadline = start + timeout_s
    while True:
        alive = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if marker in fh.read():
                        alive.append(pid)
            except OSError:
                continue
        if not alive:
            return time.monotonic() - start
        if time.monotonic() > deadline:
            raise SystemExit(f"an earlier benchmark JVM is still running: "
                             f"{alive}")
        time.sleep(0.5)


def start_session(work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName(APP_NAME)
        .config("spark.driver.memory", DRIVER_MEMORY)
        # no hsperfdata file in /tmp: the run writes only in the checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive us
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, all cores, since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def halves(values: list[float]) -> dict:
    """Median of the first and second half of the timed samples, so that
    warm-up still under way shows as a trend rather than as noise."""
    h = len(values) // 2
    first = statistics.median(values[:h]) if h else values[0]
    second = statistics.median(values[h:])
    return {"n": len(values), "median": statistics.median(values),
            "first_half": first, "second_half": second,
            "trend": second / first - 1 if first else 0.0}


def per_layer(tracer, traced: list[int], cycle_s: dict) -> dict:
    totals = tracer.cycle_totals(traced)
    for t in totals.values():
        t["operators.tasks.s"] = sum(
            v for k, v in t.items()
            if k.startswith("operators.") and k.endswith(".s")
            and k != "operators.merge.s" and k != "operators.tasks.s")
        if "multi_file.versions" in t:
            t["multi_file.versions_reused"] = (
                t["multi_file.versions"] - t.get("multi_file.versions_built", 0))
    traced_s = [cycle_s[c] for c in traced]
    untraced_s = [v for c, v in cycle_s.items() if c not in set(traced)]
    out = {}
    for name, unit in PER_LAYER:
        if name == "trace.cycle_s":
            value = statistics.median(traced_s)
        elif name == "trace.overhead_s":
            value = statistics.median(traced_s) - statistics.median(untraced_s)
        else:
            value = statistics.median(t.get(name, 0) for t in totals.values())
        out[name] = {"value": value, "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:  # the library under test, built from the checkout's sources
        import impuls_spark  # noqa: F401
        import examples.krakow_like  # noqa: F401
        import tests.fixtures.make_feed  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the library from {ROOT}: {e}")
        return 2
    if not impuls_spark.__file__.startswith(ROOT + os.sep):
        log(f"perfbench: imported {impuls_spark.__file__}, not the "
            f"checkout's copy under {ROOT}")
        return 2
    from spans import Tracer
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2

    waited = wait_for_previous_jvm()
    load_at_start = os.getloadavg()
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    # the library's own temporary files (zip staging, extraction) too
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    spark = start_session(work)
    try:
        session_s = time.monotonic() - PROCESS_START - waited
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        setups = []
        for k in range(SETUPS):
            t0 = time.monotonic()
            root = os.path.join(work, f"setup{k}")
            os.makedirs(root)
            wl.setup(root)
            setups.append(time.monotonic() - t0)
        if args.trace:
            wl.trace()

        warmup = []
        for i in range(WARMUP_CYCLES):
            warmup.append(sum(wl.cycle(-1 - i).values()))
        wl.attempted = 0

        cycle_s: dict[int, float] = {}
        op_s: dict[str, list[float]] = {op: [] for op in wl.ops}
        traced: list[int] = []
        failed = 0
        steal0 = cpu_steal_s()
        deadline = time.monotonic() + args.seconds
        i = 0
        while i < MIN_CYCLES or time.monotonic() < deadline:
            # traced runs alternate traced and untraced cycles; their
            # difference is the tracing overhead
            tracer.active = bool(args.trace) and i % 2 == 0
            try:
                with tracer.cycle_span(i):
                    times = wl.cycle(i)
            except CheckFailed as e:
                log(f"perfbench: check failed: {e}")
                failed += 1
            except Exception:  # noqa: BLE001 — count it, keep the loop going
                log(f"perfbench: cycle {i} raised:\n{traceback.format_exc()}")
                failed += 1
            else:
                cycle_s[i] = sum(times.values())
                for op, v in times.items():
                    op_s[op].append(v)
                if tracer.active:
                    traced.append(i)
            i += 1
        tracer.active = False
        steal = cpu_steal_s() - steal0
        peak_rss = jvm_peak_rss_mb(spark)

        report = {
            "workload": args.workload, "seed": args.seed,
            "loadavg_at_start": load_at_start, "session_s": session_s,
            "waited_for_previous_jvm_s": waited, "timed_cpu_steal_s": steal,
            "setup_samples_s": setups, "warmup_cycle_s": warmup,
            "jvm_peak_rss_mb": peak_rss,
            "pinned_rdds_at_end": tracer.pinned_rdds(),
            "cycle_s": halves(list(cycle_s.values())) if cycle_s else None,
            **{f"{op}_s": halves(v) for op, v in op_s.items() if v},
        }
        print(json.dumps({"steadiness": report}))
        if args.trace:
            os.makedirs(os.path.join(base, "out"), exist_ok=True)
            stem = os.path.join(base, "out", f"{args.workload}-{args.seed}")
            tracer.write_jsonl(stem + ".spans.jsonl")
            selftime = {k: v / max(len(traced), 1)
                        for k, v in tracer.self_times(traced).items()}
            with open(stem + ".selftime.json", "w") as fh:
                json.dump(selftime, fh, indent=1)
            print(json.dumps({"self_time_per_cycle_s": selftime}))
            metrics = per_layer(tracer, traced, cycle_s) if (
                traced and len(traced) < len(cycle_s)) else {}
        else:
            metrics = {
                "setup_s": session_s + statistics.median(setups),
                "cycle_s": statistics.median(cycle_s.values()),
            } if cycle_s else {}
            metrics = {k: {"value": v, "unit": UNITS[k]}
                       for k, v in metrics.items()}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {"correct": failed == 0 and bool(metrics),
              "attempted": max(wl.attempted, 1), "failed": failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0


UNITS = {"setup_s": "s", "cycle_s": "s"}

if __name__ == "__main__":
    sys.exit(main())
