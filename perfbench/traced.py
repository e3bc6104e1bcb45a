"""The traced run: per-layer metrics and the tracing overhead.

After the warm-up it runs ``TRACED_PAIRS`` untraced/traced pairs of
reps of the same fixed work (``U T``, then ``T U``, ...).  Per-layer
metrics are the median over the traced reps; ``trace.overhead_ratio``
is the median traced rep time over the median untraced one.  On ``bulk_replay`` it also drains the
same log through Structured Streaming (the ``stream`` layer) and takes
the baselines: one ``local[1]`` rep (scaling efficiency 1 -> N) and a
``bench/host_ceiling.py --n 1`` reading from the same window.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time

from run import percentile
from spans import LAYERS, StreamProgress, Tracer, jvm_counters, overlap_seconds
from workloads import Recorder

TRACED_PAIRS = 1
#: per-layer metrics that bulk_replay takes from its Structured Streaming drain
STREAM_KEYS = ("stream.trigger_ms", "stream.addbatch_ms", "stream.overhead_ms",
               "stream.batches", "self.stream_s")


def _layer_metrics(tr: Tracer, rec: Recorder, rep_wall: float, spark_layers: dict,
                   jvm0: dict, jvm1: dict, stream_batches: list[dict]) -> tuple[dict, dict]:
    spans = tr.spans
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def busy(*names):
        return sum(s.end - s.start for n in names for s in by.get(n, []))

    prepares = by.get("merge.mor_prepare", [])
    applies = by.get("merge.apply_batch", [])
    writes = by.get("catalog.write_delta_data", []) + by.get("catalog.write_bucket_data", [])
    fold_ids = {s.id for s in by.get("compact.fold_deltas", [])}
    reads_internal = [
        s for s in by.get("catalog.read_internal", []) if s.parent not in fold_ids
    ]
    direct = by.get("catalog.read_conversation_direct", [])
    read_spans = reads_internal + direct
    scanned = sum(s.info.get("input_records", 0) for s in by.get("catalog.write_delta_data", []))
    rewritten = sum(r for r, _ in tr.folds)
    changed = sum(c for _, c in tr.folds)
    self_t = tr.self_times()
    bp, _ = tr.blocking_path(threading.get_ident())
    attributed = sum(v for k, v in bp.items() if not k.endswith(".own"))
    trig = sum(b.get("triggerExecution", 0) for b in stream_batches)
    addb = sum(b.get("addBatch", 0) for b in stream_batches)
    tot = lambda key: sum(v[key] for v in spark_layers.values())  # noqa: E731

    m = {
        "batching.busy_ms": 1000 * busy("batching.plan_triggers_from_files", "batching.plan_triggers"),
        "batching.calls": len(by.get("batching.plan_triggers_from_files", []))
        + len(by.get("batching.plan_triggers", [])),
        "merge.prepare_busy_s": busy("merge.mor_prepare"),
        "merge.prepare_overlap_s": overlap_seconds(prepares),
        "merge.apply_busy_s": busy("merge.apply_batch"),
        "merge.applied_per_event": sum(s.info.get("applied", 0) for s in applies) / rec.ingest_events,
        "merge.skipped_epochs": sum(1 for s in applies if s.info.get("skipped_epoch")),
        "catalog.write_busy_s": busy("catalog.write_delta_data", "catalog.write_bucket_data"),
        "catalog.bytes_written": sum(s.info.get("bytes", 0) for s in writes),
        "catalog.files_written": sum(s.info.get("files", 0) for s in writes),
        "catalog.footer_ms": 1000 * busy("catalog.stage_summary"),
        "catalog.commit_ms": 1000 * busy("catalog.commit"),
        "catalog.commit_conflicts": tr.commit_conflicts,
        "catalog.live_delta_files_at_read": statistics.mean(
            s.info.get("live_deltas", 0) for s in read_spans) if read_spans else 0.0,
        "catalog.point_read_files_opened": statistics.mean(
            s.info.get("files_opened", 0) for s in direct) if direct else 0.0,
        "catalog.point_read_p99_ms": 1000 * percentile(rec.point_read_s, 99),
        "compact.fold_busy_s": busy("compact.fold_deltas"),
        "compact.fold_calls": len(tr.folds),
        "compact.bytes_rewritten": sum(
            s.info.get("bytes", 0) for s in by.get("catalog.write_bucket_data", [])
            if s.parent in fold_ids),
        "compact.rewrite_ratio": rewritten / changed if changed else 0.0,
        "sources.scan_useful_ratio": rec.ingest_events / scanned if scanned else 0.0,
        "stream.trigger_ms": float(trig),
        "stream.addbatch_ms": float(addb),
        "stream.overhead_ms": float(trig - addb),
        "stream.batches": len(stream_batches),
        "spark.jobs": tot("jobs"),
        "spark.tasks": tot("tasks"),
        "spark.executor_run_s": tot("executor_run_s"),
        "spark.input_bytes": tot("input_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.output_bytes": tot("output_bytes"),
        "spark.gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
        "spark.codegen_compiles": jvm1["codegen_compiles"] - jvm0["codegen_compiles"],
        "spark.codegen_ms": jvm1["codegen_ms_total"] - jvm0["codegen_ms_total"],
        **{f"self.{layer}_s": self_t.get(layer, 0.0) for layer in LAYERS},
        "trace.blocking_gap_frac": max(0.0, rep_wall - attributed) / rep_wall,
    }
    detail = {
        "rep_wall_s": rep_wall,
        "blocking_path_s": bp,
        "self_s": self_t,
        "spark_by_layer": spark_layers,
        "stream_batches": stream_batches,
        "folds": tr.folds,
    }
    return m, detail


def _host_ceiling(root: str) -> dict | None:
    script = os.path.join(root, "bench", "host_ceiling.py")
    if not os.path.isfile(script):
        return None
    p = subprocess.run(
        [sys.executable, script, "--n", "1", "--secs", "2", "--repeat", "1"],
        capture_output=True, text=True, timeout=60, cwd=root,
    )
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if p.returncode == 0 and lines else None


def _pairs(wl, tr: Tracer, n: int, tag: str) -> dict:
    """``n`` untraced/traced rep pairs of ``wl``; per-layer metrics are
    the median over the traced reps."""
    spark = wl.spark
    untraced, traced, per_rep, details, rates = [], [], [], [], []
    ops = 0

    def untraced_rep(i):
        rec = Recorder()
        t0 = time.perf_counter()
        wl.rep(rec, f"{tag}u{i}")
        untraced.append(time.perf_counter() - t0)
        rates.append(rec.ingest_events / rec.ingest_s)
        return rec.ops

    for i in range(n):
        # U T, T U, ...: neither side always runs first
        if i % 2 == 0:
            ops += untraced_rep(i)

        rec = Recorder()
        tr.reset()
        progress = StreamProgress(spark) if wl.name == "stream_drain" else None
        jvm0 = jvm_counters(spark)
        tr.install()
        wl.tracer = tr
        t0 = time.perf_counter()
        try:
            wl.rep(rec, f"{tag}t{i}")
        finally:
            wall = time.perf_counter() - t0
            tr.uninstall()
            wl.tracer = None
        jvm1 = jvm_counters(spark)
        traced.append(wall)
        batches = []
        if progress is not None:
            # listener events arrive asynchronously after the drain
            deadline = time.time() + 10
            while time.time() < deadline and len(progress.batches) < _committed_epochs(wl):
                time.sleep(0.1)
            progress.close()
            batches = list(progress.batches)
        m, d = _layer_metrics(tr, rec, wall, tr.spark_by_layer(), jvm0, jvm1, batches)
        per_rep.append(m)
        details.append(d)
        ops += rec.ops
        if i % 2 == 1:
            ops += untraced_rep(i)
    metrics = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    metrics["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return {
        "metrics": metrics,
        "untraced_rep_s": untraced,
        "traced_rep_s": traced,
        "untraced_ingest_events_per_s": statistics.median(rates),
        "reps": details,
        "ops": ops,
    }


def traced_run(args, wl, cores: int, out_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics of ``wl``.  On bulk_replay the same log is also
    drained once through Structured Streaming (untraced, then traced):
    the ``stream.*`` metrics come from that drain."""
    tr = Tracer(wl.spark)
    main = _pairs(wl, tr, TRACED_PAIRS, "")
    tr.dump(os.path.join(out_dir, f"spans-{wl.name}-s{args.seed}.json"), {"workload": wl.name})
    metrics = dict(main["metrics"])
    report = {"workload": wl.name, "seed": args.seed, "cores": cores, **main}
    if wl.name == "bulk_replay":
        from workloads import StreamDrain

        sd = StreamDrain(wl.spark, wl.inputs, wl.work, args.seed)
        sd.load()
        stream = _pairs(sd, Tracer(wl.spark), 1, "stream-")
        sd.verify()
        wl.checked += sd.checked
        report["ops"] += stream["ops"]
        for k in STREAM_KEYS:
            metrics[k] = stream["metrics"][k]
        report["stream_drain"] = stream
        report["stream_over_batch_ingest"] = (
            stream["untraced_ingest_events_per_s"] / main["untraced_ingest_events_per_s"]
        )
    return metrics, report


def _committed_epochs(wl) -> int:
    return len(wl.tables[-1].catalog.current()["offsets_files"]) if wl.tables else 0


def baselines(wl, root: str, cores: int, ingest_n: float, restart) -> dict:
    """Single-core replay and the host's own 1 -> 4 ceiling (not gated).
    ``restart(cores)`` replaces the workload's Spark session."""
    ceiling = _host_ceiling(root)
    wl.spark = restart(1)
    wl.load()
    table = wl.new_table("local1")
    t0 = time.perf_counter()
    wl.ingest(table)
    one = wl.inputs["events"] / (time.perf_counter() - t0)
    return {
        "local1_ingest_events_per_s": one,
        f"local{cores}_ingest_events_per_s": ingest_n,
        "scaling_efficiency": ingest_n / (cores * one),
        "host_ceiling": ceiling,
    }
