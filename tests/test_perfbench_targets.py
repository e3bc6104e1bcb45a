"""The traced benchmark run (``perfbench/spans.py``) wraps engine
functions by attribute.  Every entry of its ``TARGETS`` must resolve
the way ``Tracer.install`` resolves it, and the engine must reach the
wrapped functions through the patched attribute at call time — so a
rename or move of a traced function fails here, not only in a traced
run."""

import importlib
import importlib.util
import os
import sys

import pytest

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import generate_changes_pdf
from aqueduct_core_spark.schema import CHANGES_SCHEMA


def _spans():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "spans.py")
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module here
    spec.loader.exec_module(mod)
    return mod


TARGETS = _spans().TARGETS


@pytest.mark.parametrize("target", TARGETS, ids=[t[3] for t in TARGETS])
def test_traced_target_resolves(target):
    mod_name, owner_name, attr, _, kind, _ = target
    mod = importlib.import_module(mod_name)
    if owner_name is None:
        assert kind == "function"
        assert callable(getattr(mod, attr))
        return
    raw = getattr(mod, owner_name).__dict__[attr]
    if kind == "static":
        assert isinstance(raw, staticmethod)
    else:
        assert kind == "method"
        assert callable(raw) and not isinstance(raw, (staticmethod, classmethod))


def test_replay_calls_traced_functions_through_their_modules(spark, tmp_path, monkeypatch):
    """A replay over a bare multi-file log goes through the patched
    ``batching.plan_triggers_from_files``, ``merge.mor_prepare`` and
    ``pipeline.apply_batch`` — a name bound at import time would bypass
    the tracer's wrapper."""
    from aqueduct_core_spark.operators import batching, merge
    from aqueduct_core_spark.streaming import pipeline

    calls = {}

    def counting(owner, name):
        fn = getattr(owner, name)

        def wrapper(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return fn(*a, **k)

        monkeypatch.setattr(owner, name, wrapper)

    counting(batching, "plan_triggers_from_files")
    counting(merge, "mor_prepare")
    counting(pipeline, "apply_batch")
    d = str(tmp_path / "changes")
    spark.createDataFrame(
        generate_changes_pdf(n_convs=30, seed=3), schema=CHANGES_SCHEMA
    ).repartition(3).write.parquet(d)
    log = spark.read.schema(CHANGES_SCHEMA).parquet(d)
    t = ParquetTranscriptTable.create(spark, str(tmp_path / "t"), num_buckets=2)
    cfg = EngineConfig(num_buckets=2, max_events_per_trigger=1, max_bytes_per_trigger=1 << 30)
    metrics = pipeline.replay(t, log, cfg, start_epoch=0, start_lsn=0)
    assert len(metrics) > 1
    assert calls == {
        "plan_triggers_from_files": 1,
        "mor_prepare": len(metrics),
        "apply_batch": len(metrics),
    }
