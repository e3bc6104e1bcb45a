"""Driver-contract registry parity: every query has an oracle.

``tools/check_contract.py`` grades a query without an oracle by row
count alone, so a registry that drops an oracle but keeps its query
would pass silently.  This check needs no Spark session.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402


def test_queries_and_oracles_have_the_same_keys():
    qs = set(entry.queries())
    os_ = set(entry.oracle_sql())
    assert qs == os_, {
        "queries_without_oracle": sorted(qs - os_),
        "oracles_without_query": sorted(os_ - qs),
    }
    assert len(qs) == 89
