"""Adaptive trigger pacing (reference X7 retry-after arithmetic).

The reference's server tells each consumer when to poll again:
``calculateRetryAfter`` spreads the expected fleet over the read
capacity — ``retryAfterMs = nodeCount / (poolSize / queryTimeMs)``
with ±10% jitter and floor/cap clamps
(``/root/reference/pipe-storage-postgresql/.../PostgresqlStorage.java:203-225``),
and an empty read answers with the configured default so idle
consumers back off (``PipeReadController.java:89-121``; client parse
``HttpPipeClient.java:49-81``).

Spark re-expression: the same arithmetic paces
:func:`aqueduct_core_spark.streaming.pipeline.tail_loop` — one loop
stands in for the consumer fleet, so ``node_count`` becomes the number
of concurrent loops sharing the source and ``pool_size`` the source's
tolerated concurrent readers.  Pure driver-side math; deterministic
jitter from a caller-supplied value (no wall-clock randomness — replays
stay reproducible).
"""

from __future__ import annotations

import math

#: reference defaults (application-prod.yml:44-46: expected-node-count
#: 3000, cap 600 s; jitter ±10% — PostgresqlStorage.java:211-216)
DEFAULT_CAP_MS = 600_000
JITTER_FRACTION = 0.1


def retry_after_ms(
    query_time_ms: float,
    node_count: int = 1,
    pool_size: int = 1,
    floor_ms: int = 100,
    cap_ms: int = DEFAULT_CAP_MS,
    jitter_unit: float = 0.0,
) -> int:
    """Reference retry-after formula: how long a consumer should wait
    before the next poll so ``node_count`` consumers fit the source's
    read capacity (``pool_size`` concurrent reads of
    ``query_time_ms`` each).

    ``jitter_unit`` ∈ [-1, 1] maps to ±10% (callers pass a
    deterministic per-consumer value, e.g. hash(consumer_id) scaled —
    never wall-clock randomness).
    """
    if query_time_ms <= 0 or pool_size <= 0:
        base = float(floor_ms)
    else:
        base = node_count * query_time_ms / pool_size
    base *= 1.0 + JITTER_FRACTION * max(-1.0, min(1.0, jitter_unit))
    return int(min(max(math.ceil(base), floor_ms), cap_ms))

