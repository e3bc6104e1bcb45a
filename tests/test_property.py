"""Property-based replay equivalence (hypothesis).

The reference's contract: the log is totally ordered and delivered
in order (``pipe-api/.../Writer.java:5-11`` — "Any missing offset
should never arrive later"); duplication and re-delivery are the
failure modes the engine must absorb (T4/T5).  So the property is:

  for ANY in-order segmentation of the log, ANY fold schedule (base
  rewrites interleaved with live deltas), and ANY duplicate
  re-delivery of an already-applied prefix, the final transcripts
  state equals the straight-line pandas oracle.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
from aqueduct_core_spark.config import EngineConfig
from aqueduct_core_spark.generator import expected_state_pdf, generate_changes_pdf
from aqueduct_core_spark.operators.merge import apply_batch
from aqueduct_core_spark.verify import state_digest
from tests.test_merge import assert_state_equal, final_state_pdf, to_spark

_PDF = generate_changes_pdf(40, seed=42)
_EXPECTED = expected_state_pdf(_PDF)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    frac=st.floats(0.0, 1.0),
    purge=st.booleans(),
)
def test_compaction_threshold_preserves_state(spark, frac, purge):
    """compact_log at ANY event-time threshold — with or without
    tombstone purge — replays to the same final state: the reference's
    core compaction invariant
    (SQLiteStorageIntegrationSpec.groovy:696-907), including the
    hierarchical hazard where a purged conversation tombstone must not
    resurrect the turns it killed."""
    from aqueduct_core_spark.operators.compact import compact_log
    from aqueduct_core_spark.operators import lww
    from aqueduct_core_spark.schema import OP_DELETE
    from pyspark.sql import functions as F

    ts_sorted = _PDF["ts"].sort_values()
    thr = ts_sorted.iloc[int(frac * (len(ts_sorted) - 1))]
    df = to_spark(spark, _PDF)
    compacted = compact_log(
        df, thr, deletions_threshold=thr if purge else None
    )

    def state(changes):
        winners, _ = lww.resolve_batch(changes, ["role", "text", "tool", "ts"])
        return (
            winners.where(F.col("op") != OP_DELETE)
            .select("conv_id", "turn_idx", "text", "_lsn")
        )

    from aqueduct_core_spark.verify import states_equal

    assert states_equal(state(df), state(compacted))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cuts=st.lists(st.floats(0.05, 0.95), min_size=0, max_size=3, unique=True),
    fold_after=st.lists(st.booleans(), min_size=5, max_size=5),
    redeliver=st.booleans(),
)
def test_any_segmentation_any_strategy_converges(
    spark, tmp_path_factory, cuts, fold_after, redeliver
):
    """Hypothesis picks the segmentation and after which epochs the
    deltas fold into the base (``fold_after[i]``), so later epochs land
    on a freshly rewritten base, on live deltas, or on both."""
    from aqueduct_core_spark.operators.compact import fold_deltas

    cfg = EngineConfig(num_buckets=4, mor_fold_every=0)
    lsns = sorted(_PDF["lsn"])
    cut_lsns = sorted({lsns[int(f * (len(lsns) - 1))] for f in cuts})
    bounds = [None, *cut_lsns, None]

    root = str(tmp_path_factory.mktemp("prop") / "t")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=4)

    epoch = 0
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        seg = _PDF
        if lo is not None:
            seg = seg[seg.lsn > lo]
        if hi is not None:
            seg = seg[seg.lsn <= hi]
        if seg.empty:
            continue
        apply_batch(table, to_spark(spark, seg), epoch=epoch, cfg=cfg)
        if fold_after[epoch]:
            fold_deltas(table)
        epoch += 1

    if redeliver:
        # duplicate re-delivery of an already-applied prefix at a NEW
        # epoch: LWW keeps the newer table rows → digest unchanged
        d0 = state_digest(table.read_internal())
        prefix = _PDF[_PDF.lsn <= lsns[len(lsns) // 2]]
        apply_batch(table, to_spark(spark, prefix), epoch=epoch, cfg=cfg)
        assert state_digest(table.read_internal()) == d0

    assert_state_equal(final_state_pdf(table), _EXPECTED)


# ---------------------------------------------------------------------------
# connected-components clustering vs a union-find oracle
# ---------------------------------------------------------------------------

@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
def test_dup_clusters_matches_union_find(spark, edges):
    """For ANY pair list (self-loops, duplicates, any orientation), the
    star-algorithm output equals the exact min-id-per-component from a
    driver-side union-find."""
    from aqueduct_core_spark.functions.dedup import dup_clusters

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a != b:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}

    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]).astype("int64")
    )
    got = {r["id"]: r["rep"] for r in dup_clusters(pairs).collect()}
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(frac=st.floats(0.05, 1.0))
def test_scd2_current_slice_equals_state_at_any_prefix(spark, frac):
    """SCD2 time-machine property: for ANY lsn prefix of the log, the
    history's ``is_current`` slice equals the straight-line pandas state
    oracle of that prefix — i.e. the type-2 intervals reconstruct the
    LWW + hierarchical-delete state as of every point in log time."""
    from pyspark.sql import functions as F

    from aqueduct_core_spark.operators.temporal import scd2_history

    cut = _PDF["lsn"].quantile(frac, interpolation="lower")
    prefix = _PDF[_PDF["lsn"] <= cut]
    exp = expected_state_pdf(prefix)

    hist = scd2_history(to_spark(spark, prefix))
    cur = (
        hist.where(F.col("is_current"))
        .select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.col("valid_from_lsn").alias("_lsn"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "ts"], ignore_index=True)
    )
    assert_state_equal(cur, exp)

    # interval sanity on the same history: per key, spans are ordered,
    # non-overlapping, and only the last may be open
    pdf = hist.toPandas().sort_values(["conv_id", "turn_idx", "valid_from_lsn"])
    for (_, _), grp in pdf.groupby(["conv_id", "turn_idx"]):
        closes = grp["valid_to_lsn"].to_numpy()
        opens = grp["valid_from_lsn"].to_numpy()
        assert pd.isna(closes[:-1]).sum() == 0  # only the last span open
        assert all(
            c <= o for c, o in zip(closes[:-1], opens[1:])
        )  # no overlap between consecutive versions
