"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics (measured with tracing off), with ``--trace 1``
the per-layer metrics of a traced run.  Everything the run writes stays
under the checkout (``.perfbench_cache``, ``.perfbench_work``,
``.perfbench_out``).  The measuring work runs in a child process; the
parent returns only after every process the child started has ended.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

#: conversations in the seeded log (about 28 events each)
N_CONVS = 6000
DRIVER_MEMORY = "2g"

#: name -> unit of every end-to-end metric (printed with --trace 0)
END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "freshness_p50_ms": "ms",
    "point_read_p50_ms": "ms",
    "scan_read_s": "s",
    "table_bytes_per_input_byte": "ratio",
    "driver_peak_rss_mb": "MB",
}

#: name -> unit of every per-layer metric (printed with --trace 1)
PER_LAYER = {
    "batching.busy_ms": "ms",
    "batching.calls": "count",
    "merge.prepare_busy_s": "s",
    "merge.prepare_overlap_s": "s",
    "merge.apply_busy_s": "s",
    "merge.applied_per_event": "ratio",
    "merge.skipped_epochs": "count",
    "catalog.write_busy_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.footer_ms": "ms",
    "catalog.commit_ms": "ms",
    "catalog.commit_conflicts": "count",
    "catalog.live_delta_files_at_read": "count",
    "catalog.point_read_files_opened": "count",
    "catalog.point_read_p99_ms": "ms",
    "compact.fold_busy_s": "s",
    "compact.fold_calls": "count",
    "compact.bytes_rewritten": "B",
    "compact.rewrite_ratio": "ratio",
    "sources.scan_useful_ratio": "ratio",
    "stream.trigger_ms": "ms",
    "stream.addbatch_ms": "ms",
    "stream.overhead_ms": "ms",
    "stream.batches": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.output_bytes": "B",
    "spark.gc_ms": "ms",
    "spark.codegen_compiles": "count",
    "spark.codegen_ms": "ms",
    "self.batching_s": "s",
    "self.merge_s": "s",
    "self.catalog_s": "s",
    "self.compact_s": "s",
    "self.pipeline_s": "s",
    "self.stream_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.blocking_gap_frac": "ratio",
}


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The final JSON line: every metric of ``units``, by name, with its unit."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    })


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * q / 100) - 1)]


def keep_scratch_in(work: str) -> str:
    """Point this process's, its children's and the JVM's temporary files
    at ``work/tmp``, inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # spark-submit's short-lived launcher JVM takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return tmp


def start_spark(work: str, cores: int):
    from aqueduct_core_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["AQUEDUCT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark, keep_jvm: bool = False) -> None:
    """Stop the session and, unless ``keep_jvm``, wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or keep_jvm:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def end_to_end(wl, rec, setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": rec.ingest_events / rec.ingest_s,
        "freshness_p50_ms": 1000 * statistics.median(rec.freshness_s),
        "point_read_p50_ms": 1000 * statistics.median(rec.point_read_s),
        "scan_read_s": statistics.median(rec.scan_s),
        "table_bytes_per_input_byte": wl.table_bytes() / wl.input_bytes(),
        "driver_peak_rss_mb": peak_rss_mb,
    }


def main(argv=None) -> int:
    sys.path.insert(0, BENCH_DIR)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "aqueduct_core_spark", "__init__.py")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import inputs as inputs_mod
    from workloads import WORKLOADS, Recorder, remove_tables

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    keep_scratch_in(work)

    t_inputs = time.perf_counter()
    inputs = inputs_mod.ensure_inputs(
        ROOT, os.path.join(ROOT, ".perfbench_cache"), N_CONVS, args.seed, cores
    )
    inputs_s = time.perf_counter() - t_inputs
    log(f"inputs ready: {inputs['events']} events ({inputs_s:.1f}s)")

    spark = start_spark(work, cores)
    wl = None
    try:
        wl = WORKLOADS[args.workload](spark, inputs, work, args.seed)
        wl.load()
        # warm-up: JIT, codegen and Python workers; not measured
        warm = Recorder()
        wl.rep(warm, "warmup", warmup=True)
        log(f"warm-up rep {warm.rep_s[0]:.1f}s")
        remove_tables(wl)
        setup_s = time.perf_counter() - T0 - inputs_s
        log(f"setup done ({setup_s:.1f}s)")

        if args.trace:
            from traced import baselines, traced_run

            metrics, report = traced_run(args, wl, cores, out_dir)
            ops = report["ops"]
            wl.verify()
            units = PER_LAYER
            if wl.name == "bulk_replay":
                def restart(n):
                    stop_spark(wl.spark, keep_jvm=True)
                    return start_spark(work, n)

                report["baselines"] = baselines(
                    wl, ROOT, cores, report["untraced_ingest_events_per_s"], restart)
        else:
            rec = Recorder()
            t_start = time.perf_counter()
            n = 0
            # start another rep only if it should end inside the window
            while n == 0 or (time.perf_counter() - t_start) * (n + 1) / n <= args.seconds:
                wl.rep(rec, f"r{n}")
                if n == 0:
                    # the same work on every run, however many reps fit
                    peak_rss_mb = jvm_peak_rss_mb(wl.spark)
                n += 1
            log(f"timed window: {n} reps in {time.perf_counter() - t_start:.1f}s: "
                f"{[round(x, 2) for x in rec.rep_s]}")
            metrics = end_to_end(wl, rec, setup_s, peak_rss_mb)
            ops = rec.ops
            wl.verify()
            units = END_TO_END
    finally:
        stop_spark(wl.spark if wl is not None else spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for _, ok in wl.checked if not ok)
    for name, ok in wl.checked:
        if not ok:
            log(f"CHECK FAILED: {name}")
    if args.trace:
        report["checks"] = wl.checked
        path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1)
        log(f"traced report: {path}")
    attempted = ops + len(wl.checked)
    print(result_line(failed == 0, attempted, failed, metrics, units))
    return 0


#: set in the measuring child so it does not supervise itself
CHILD_ENV = "PERFBENCH_CHILD"
#: how long leftovers (Spark's Python daemon, multiprocessing's resource
#: tracker) get to exit on their own before they are killed
GRACE_S = 10.0


def _become_subreaper() -> None:
    """Make orphaned descendants re-parent to this process, so that it can
    wait for every one of them (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state, ppid, ...
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _kill_descendants() -> None:
    for d in _descendants(os.getpid()):
        try:
            os.kill(d, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap_all(grace_s: float) -> None:
    """Wait until this process has no child left; after ``grace_s`` kill
    whatever descendant is still there.  As a subreaper, every orphaned
    descendant becomes a child, so no child left means no descendant."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            _kill_descendants()
        time.sleep(0.05)


def supervise(argv=None) -> int:
    """Run the benchmark in a child process and return only once the child
    and every process it started (the Spark JVM, its Python workers, pool
    workers) have ended."""
    _become_subreaper()
    env = dict(os.environ, **{CHILD_ENV: "1"})

    def die_with_parent():
        # PR_SET_PDEATHSIG: SIGKILL the child if this process is killed
        ctypes.CDLL(None).prctl(1, signal.SIGKILL, 0, 0, 0)

    child = subprocess.Popen([sys.executable, os.path.abspath(__file__)] + list(
        sys.argv[1:] if argv is None else argv), env=env, preexec_fn=die_with_parent)

    def stop(signum, _frame):
        _kill_descendants()
        _reap_all(0.0)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    code = child.wait()
    _reap_all(GRACE_S)
    return code if code >= 0 else 128 - code


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise())
