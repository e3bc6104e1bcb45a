"""X7 retry-after pacing arithmetic (PostgresqlStorage.java:203-225)."""

from aqueduct_core_spark.streaming.pacing import (
    DEFAULT_CAP_MS,
    retry_after_ms,
)


def test_formula_spreads_fleet_over_capacity():
    # 3000 nodes, pool of 24 readers, 100 ms reads →
    # 3000 / (24 / 100) = 12.5 s between polls per consumer
    assert retry_after_ms(100, node_count=3000, pool_size=24) == 12_500


def test_floor_and_cap():
    assert retry_after_ms(0.001, node_count=1, pool_size=100) == 100  # floor
    assert retry_after_ms(10_000, node_count=10**6, pool_size=1) == DEFAULT_CAP_MS


def test_jitter_deterministic_and_bounded():
    base = retry_after_ms(100, 3000, 24)
    hi = retry_after_ms(100, 3000, 24, jitter_unit=1.0)
    lo = retry_after_ms(100, 3000, 24, jitter_unit=-1.0)
    assert lo < base < hi
    assert abs(hi - base * 1.1) <= 1 and abs(lo - base * 0.9) <= 1
    # out-of-range jitter units clamp
    assert retry_after_ms(100, 3000, 24, jitter_unit=5.0) == hi


def test_degenerate_inputs():
    assert retry_after_ms(0, node_count=10, pool_size=0) == 100

