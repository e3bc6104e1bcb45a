"""Deterministic synthetic change-log generator (FIXTURES.md §2).

Every run is byte-identical for a given seed: no wall clock, no global
RNG.  Two entry points share one per-conversation kernel:

- :func:`generate_changes_pdf` — local pandas frame for unit tests.
- :func:`generate_changes` — distributed ``mapInPandas`` over a range
  of conversation ids; this is the 10^10-scale path (each Spark task
  generates its conversations independently — no shuffle, no driver
  data).

LSN layout: conversation ``i`` owns the sparse range
``[i*STRIDE, (i+1)*STRIDE)`` and assigns lsns sequentially within it.
LSNs are globally unique and monotone *per key*, which is all the LWW
contract requires (the reference's BIGSERIAL also has gaps; ordering
guarantee: pipe-api/.../Writer.java:5-11).

Generator rules (FIXTURES.md §2):
- geometric(turns) per conversation; ~60% of turns receive 1–3 later
  ``U`` events; ~5% of keys end in a ``D`` tombstone; ~1% of
  conversations get a conversation-level ``D``.
- hot conversations (default 1%) receive ~100× the event volume —
  exercises skew handling (the LWW argmax's map-side combine).
- a turn's first ``I`` always has a conversation-level metadata event
  (op ``I``, turn_idx NULL) at a lower lsn — hierarchical ordering.
- the ``tool`` column only appears from epoch 1 onward (additive
  schema evolution).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

#: lsn range reserved per conversation; asserted against overflow
STRIDE = 1 << 14  # 16384

_EPOCH_BASE_S = 1_704_067_200  # 2024-01-01T00:00:00Z

_ROLES = np.array(["user", "assistant"])
_TOOLS = np.array(["search", "python", "browser", "calculator", "none"])
_FILLER = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango".split()
)


def _conv_events(conv_ordinal: int, seed: int, hot: bool, n_clusters: int) -> pd.DataFrame:
    """Generate all change events for one conversation, in lsn order."""
    rng = np.random.RandomState((seed * 1_000_003 + conv_ordinal) % (2**31 - 1))
    conv_id = f"conv-{conv_ordinal:08d}"

    if hot:
        n_turns = int(rng.randint(120, 200))
        upd_lambda = 8  # many updates per turn -> ~100x volume
    else:
        n_turns = int(min(1 + rng.geometric(0.25), 40))
        upd_lambda = 0

    rows: list[tuple] = []  # (op, turn_idx, role, text, tool, order_rank)
    # conversation-level metadata insert first (lower lsn than any turn I)
    rows.append(("I", None, None, f"conversation {conv_id} created", None))

    turn_tool = rng.random_sample(n_turns)
    n_updates = np.where(
        rng.random_sample(n_turns) < 0.6,
        rng.randint(1, 4, size=n_turns) + (rng.poisson(upd_lambda, size=n_turns) if hot else 0),
        (rng.poisson(upd_lambda, size=n_turns) if hot else np.zeros(n_turns, dtype=int)),
    ).astype(int)
    deleted = rng.random_sample(n_turns) < 0.05
    filler_ix = rng.randint(0, len(_FILLER), size=(n_turns, 6))

    insert_rows = []
    update_rows = []
    delete_rows = []
    for t in range(n_turns):
        role = _ROLES[t % 2]
        tool = _TOOLS[filler_ix[t, 0] % len(_TOOLS)] if (role == "assistant" and turn_tool[t] < 0.2) else None
        if tool == "none":
            tool = None
        base_text = " ".join(_FILLER[filler_ix[t]])
        insert_rows.append(("I", t, role, f"{conv_id} turn {t} rev 0 :: {base_text}", tool))
        for k in range(n_updates[t]):
            update_rows.append(("U", t, role, f"{conv_id} turn {t} rev {k + 1} :: {base_text}", tool))
        if deleted[t]:
            delete_rows.append(("D", t, None, None, None))

    # layout: conv I, all turn Is (turn order), all Us, all Ds —
    # per-key lsn order I < U… < D is preserved.
    rows += insert_rows + update_rows + delete_rows

    # ~1% conversation-level delete, then a few post-delete re-inserts
    # (which must survive: deletion only kills lsns at-or-below it —
    # reference PostgresqlStorage.java:479-493)
    if rng.random_sample() < 0.01:
        rows.append(("D", None, None, None, None))
        for t in range(min(2, n_turns)):
            rows.append(
                ("I", t, _ROLES[t % 2], f"{conv_id} turn {t} rev R :: reborn", None)
            )

    assert len(rows) < STRIDE, f"conversation {conv_ordinal} overflows lsn stride"

    n = len(rows)
    lsn0 = conv_ordinal * STRIDE
    ops, turn_idx, roles, texts, tools = (list(x) for x in zip(*rows))
    lsn = np.arange(lsn0, lsn0 + n, dtype=np.int64)
    # event time advances 1 ms per lsn: keeps timestamps within pandas'
    # ns-datetime range even at 10^8+ conversations (1 s/lsn overflowed
    # the year-2262 ceiling past ~500k conversations)
    ts = pd.to_datetime(_EPOCH_BASE_S * 1000 + lsn, unit="ms", utc=True).tz_localize(None)
    texts_arr = pd.array(texts, dtype="object")
    sizes = np.array([(len(x) if x is not None else 0) + 89 for x in texts], dtype=np.int32)
    return pd.DataFrame(
        {
            "lsn": lsn,
            "op": pd.array(ops, dtype="object"),
            "conv_id": conv_id,
            "turn_idx": pd.array(turn_idx, dtype="Int32"),
            "role": pd.array(roles, dtype="object"),
            "text": texts_arr,
            "tool": pd.array(tools, dtype="object"),
            "ts": ts,
            "event_size": sizes,
            "cluster_id": np.int64(conv_ordinal % n_clusters),
            # group-targeted rows: every 3rd conversation broadcasts
            # (NULL group); others target group conv%5 (reference
            # location_group routing, PostgresqlStorage.java:469-473)
            "location_group": pd.array(
                [None if conv_ordinal % 3 == 0 else conv_ordinal % 5] * n,
                dtype="Int64",
            ),
        }
    )


def generate_changes_pdf(
    n_convs: int,
    seed: int = 42,
    hot_fraction: float = 0.01,
    n_clusters: int = 8,
) -> pd.DataFrame:
    """Local (driver-side) generation for tests; lsn-sorted."""
    hot_every = max(1, int(round(1.0 / hot_fraction))) if hot_fraction > 0 else 0
    frames = [
        _conv_events(i, seed, hot=bool(hot_every and i % hot_every == hot_every // 2), n_clusters=n_clusters)
        for i in range(n_convs)
    ]
    out = pd.concat(frames, ignore_index=True)
    return out.sort_values("lsn", ignore_index=True)


def generate_changes(
    spark,
    n_convs: int,
    seed: int = 42,
    hot_fraction: float = 0.01,
    n_clusters: int = 8,
    partitions: int | None = None,
):
    """Distributed generation: one task generates a slice of the
    conversation range with the same kernel — embarrassingly parallel,
    zero shuffle, deterministic regardless of parallelism."""
    from aqueduct_core_spark.schema import CHANGES_SCHEMA

    hot_every = max(1, int(round(1.0 / hot_fraction))) if hot_fraction > 0 else 0

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"].to_numpy():
                yield _conv_events(
                    int(i), seed, hot=bool(hot_every and i % hot_every == hot_every // 2), n_clusters=n_clusters
                )

    parts = partitions or spark.sparkContext.defaultParallelism
    return (
        spark.range(0, n_convs, numPartitions=parts)
        .mapInPandas(gen, schema=CHANGES_SCHEMA)
    )


def expected_state_pdf(changes: pd.DataFrame) -> pd.DataFrame:
    """Independent straight-line oracle reducer (FIXTURES.md §4).

    Pure pandas, no Spark: per ``(conv_id, turn_idx)`` keep the max-lsn
    event; drop tombstone winners; apply conversation-level deletes
    (kill turns whose winning lsn is at-or-below the delete's lsn —
    reference LWW deletion semantics PostgresqlStorage.java:479-493).
    Returns the expected ``transcripts`` state with ``_lsn``.
    """
    df = changes.sort_values("lsn")
    conv_level = df[df["turn_idx"].isna()]
    conv_del = (
        conv_level[conv_level["op"] == "D"].groupby("conv_id")["lsn"].max().rename("conv_del_lsn")
    )

    turns = df[df["turn_idx"].notna()]
    winners = turns.loc[turns.groupby(["conv_id", "turn_idx"])["lsn"].idxmax()]
    winners = winners.join(conv_del, on="conv_id")
    alive = winners[
        (winners["op"] != "D")
        & (winners["conv_del_lsn"].isna() | (winners["lsn"] > winners["conv_del_lsn"]))
    ]
    out = alive[["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]].rename(
        columns={"lsn": "_lsn"}
    )
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out.sort_values(["conv_id", "turn_idx", "ts"], ignore_index=True)


def consistency_sum_pdf(changes: pd.DataFrame) -> int:
    """Reference offset-consistency checksum: SUM of per-key max lsn over
    keys whose latest event is not a deletion
    (SQLiteQueries.java:57-64)."""
    state = expected_state_pdf(changes)
    return int(state["_lsn"].sum())
