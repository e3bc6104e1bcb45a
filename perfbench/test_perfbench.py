"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from aqueduct_core_spark.generator import STRIDE, generate_changes_pdf  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_interleave_keeps_per_key_order_and_unique_lsns():
    n = 40
    log = generate_changes_pdf(n, seed=9)
    log["new"] = inputs.interleave_lsn(log["lsn"].to_numpy(), n, STRIDE)
    assert log["new"].is_unique
    # conversation-level events (turn_idx NULL) are a key of their own
    key = [log["conv_id"], log["turn_idx"].fillna(-1)]
    for _, g in log.groupby(key):
        assert list(g.sort_values("lsn").index) == list(g.sort_values("new").index)
    # events of different conversations now interleave
    first = log.sort_values("new").head(n)
    assert first["conv_id"].nunique() == n


def test_interleave_is_injective_on_its_domain():
    conv = np.arange(5)[:, None]
    k = np.array([0, 1, STRIDE - 1])[None, :]
    lsn = (conv * STRIDE + k).ravel()
    out = inputs.interleave_lsn(lsn, 5, STRIDE)
    assert len(set(out.tolist())) == lsn.size


def test_pool_generation_matches_the_generator():
    got = inputs.generate_log(30, seed=4, procs=2).to_pandas()
    want = generate_changes_pdf(30, seed=4)
    assert got["lsn"].tolist() == want["lsn"].tolist()
    for col in ("op", "conv_id", "text", "tool", "role"):
        assert got[col].tolist() == want[col].tolist()
    assert (got["ts"].dt.tz_localize(None) == want["ts"]).all()


def test_every_benchmark_metric_is_printed_with_its_unit():
    bench = _benchmark_json()
    for section, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == units, section
        line = run.result_line(True, 3, 0, {k: 1.5 for k in units}, units)
        out = json.loads(line)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
        assert all(v["value"] == 1.5 for v in out["metrics"].values())


def test_result_line_refuses_a_missing_metric():
    units = dict(run.END_TO_END)
    values = {k: 1.0 for k in units if k != "setup_s"}
    with pytest.raises(KeyError):
        run.result_line(True, 1, 0, values, units)


def test_benchmark_json_workloads_match_the_runner():
    from workloads import WORKLOADS

    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def _span(i, name, a, b, parent=None, thread=1):
    return spans.Span(i, name, a, parent, thread, end=b)


def test_self_time_subtracts_children_once():
    tr = spans.Tracer.__new__(spans.Tracer)
    tr.spans = [
        _span(1, "pipeline.replay", 0.0, 10.0),
        _span(2, "merge.apply_batch", 1.0, 4.0, parent=1),
        _span(3, "catalog.commit", 2.0, 3.0, parent=2),
        _span(4, "merge.apply_batch", 3.5, 6.0, parent=1),  # overlaps span 2
    ]
    st = tr.self_times()
    assert st["pipeline"] == pytest.approx(5.0)
    assert st["merge"] == pytest.approx(2.0 + 2.5)
    assert st["catalog"] == pytest.approx(1.0)


def test_blocking_path_charges_waits_to_the_other_thread():
    tr = spans.Tracer.__new__(spans.Tracer)
    tr.spans = [
        _span(1, "pipeline.replay", 0.0, 10.0),
        _span(2, "merge.mor_prepare", 1.0, 5.0, thread=2),
        _span(3, "merge.apply_batch", 5.0, 6.0, parent=1),
    ]
    path, total = tr.blocking_path(main_thread=1)
    assert total == pytest.approx(10.0)
    assert path["merge"] == pytest.approx(5.0)
    assert path["pipeline.own"] == pytest.approx(5.0)


def test_overlap_counts_only_concurrent_time():
    ss = [_span(1, "merge.mor_prepare", 0.0, 4.0), _span(2, "merge.mor_prepare", 3.0, 5.0),
          _span(3, "merge.mor_prepare", 6.0, 7.0)]
    assert spans.overlap_seconds(ss) == pytest.approx(1.0)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))
    assert run.percentile(xs, 99) == 198
    assert run.percentile(xs, 50) == 100
    assert run.percentile([7.0], 99) == 7.0


def test_supervisor_waits_for_orphaned_descendants(tmp_path):
    # the child leaves a grandchild behind and exits; the supervising
    # process must not return while the grandchild is alive
    script = tmp_path / "sup.py"
    script.write_text(
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "import run\n"
        "run._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], check=True,\n"
        "               stdout=open(sys.argv[1], 'w'), stderr=subprocess.DEVNULL)\n"
        "t0 = time.monotonic()\n"
        "run._reap_all(0.2)\n"
        "print(len(run._descendants(os.getpid())), time.monotonic() - t0 < 30)\n"
    )
    pid_file = tmp_path / "pid"
    out = subprocess.run([sys.executable, str(script), str(pid_file)],
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.split() == ["0", "True"], out.stderr
    assert not os.path.exists(f"/proc/{int(pid_file.read_text())}")
