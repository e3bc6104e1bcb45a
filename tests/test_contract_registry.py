"""Registry checks that need no Spark session.

- Driver-contract parity: every query has an oracle.
  ``tools/check_contract.py`` grades a query without an oracle by row
  count alone, so a registry that drops an oracle but keeps its query
  would pass silently.
- No test-only public surface: every public engine definition has a
  non-test caller or an allowlisted reason to stay.
"""

import ast
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


# ---------------------------------------------------------------------------
# No test-only public surface
# ---------------------------------------------------------------------------

_REPO = Path(__file__).resolve().parents[1]

#: public engine definitions that no non-test code calls, each with the
#: reason it stays; everything else public must have a non-test caller
_TEST_ONLY_ALLOWED = {
    # test oracles
    "forest_probes": "driver-side probe oracle the ANN probe tests compare against",
    "consistency_sum_pdf": "pandas offset-consistency oracle of the replay tests",
    "states_equal": "anti-join state equality the verification tests assert with",
    # serving and read API
    "ParquetTranscriptTable.read_conversations": "serving multi-get over a set of conversations",
    "ParquetTranscriptTable.logical_schema": "public post-rename schema of the serving API",
    "ParquetTranscriptTable.read_as_of": "time-travel read at a version or tag",
    "read_log": "public reader of a change-log directory",
    "with_event_size": "public X6 event-size column helper",
    "with_normalized_text": "public text-normalization column helper",
    # pacing: the paper's retryAfterMs consumer loop
    "tail_loop": "the paper's Retry-After paced consumer loop, the only pacing loop",
    # media kernels waiting for their driver rows
    "resize_images": "media kernel pending its media_resize driver row",
    "resample_audio": "media kernel pending its media_resample driver row",
    # ingest topologies and bootstrap
    "start_stream_demux": "streaming demux: one log tail fanned out to routed replicas",
    "replay_multi_source": "several ordered logs ingested into one table",
    "bootstrap": "full reset to an empty table (reference deleteAll bootstrap)",
    "bootstrap_from_state": "initial load from a consistent state snapshot",
    "apply_with_quarantine": "dead-letter apply of row-level validation",
    "read_quarantine": "deduplicated view of the row-level dead letters",
    # monitoring
    "fleet_status": "lag roll-up across a demux fleet",
    "streaming_throughput": "streaming twin of the windowed throughput query",
    # change feed re-publication
    "FeedCursor": "at-least-once cursor over a table's change feed",
    "FeedPublisher": "exactly-once re-publication of the change feed as envelopes",
    "FeedPublisher.wire_glob": "stream-source path of the published feed",
    "DedupIndexMaintainer": "keeps a DedupIndex fresh from the streaming apply loop",
    # maintenance and compliance
    "export_snapshot": "backup of one pinned snapshot",
    "restore_snapshot": "restore of a backup with its exactly-once watermark",
    "SnapshotCatalog.delete_tag": "releases a tag so compliance purges can expire it",
    "purge_expired": "TTL purge (F6 phase 2)",
    "rewrite_zorder": "Z-order clustered rewrite",
    "rebucket": "bucket-count evolution in one atomic commit",
    "maintain": "one-call maintenance policy loop",
    "redact_log": "redaction of the change log itself",
    "erase_everywhere": "one-call erasure across every registered surface",
    "diff_replica": "anti-entropy divergence locator",
    "repair_replica": "anti-entropy bucket repair",
    "ConvView.last_table_version": "the table version a conversation view last refreshed from",
    "ConvView.expire": "orphan cleanup of a conversation view",
    "ParquetTranscriptTable.snapshots": "snapshot-history metadata table (Iceberg .snapshots)",
    "ParquetTranscriptTable.tag": "named snapshot ref a training run pins for read_as_of",
    "ForestIndex.codebooks": "frozen codebooks of a persisted index, to build a compatible one",
    "Scd2History.last_epoch": "epoch watermark of the SCD2 history's re-delivery guard",
    "Scd2History.redact": "in-place redaction of superseded history text",
    "Scd2History.expire": "orphan cleanup of the SCD2 history",
    "Scd2History.prune_closed_before": "SCD2 audit retention",
    "PreferencePairsView.expire": "orphan cleanup of the preference-pairs view",
}


def _non_test_sources() -> list[Path]:
    paths = [_REPO / "__spark_entry__.py", _REPO / "bench.py"]
    for top in ("aqueduct_core_spark", "bench", "tools", "perfbench"):
        paths += sorted((_REPO / top).rglob("*.py"))
    return paths


def _public_surface_and_references():
    """(public defs of the engine as ``(qualname, path)`` pairs, the
    references each non-test scope makes as ``{key: {(path, scope)}}``).

    A module-level name is referenced by a ``Name``, an imported name, a
    string constant that is an identifier (perfbench names what it wraps
    by string) or an attribute (``module.name``): key ``name``.  A
    method is referenced only by an attribute: ``self.m`` / ``cls.m``
    inside class ``C``, or ``C.m`` on a class name, resolves to ``C.m``
    and the same name on ``C``'s known base classes (keys ``C.m``);
    any other receiver is unknown and keys ``.m``, matching a method of
    that name on every class.  A bare name or a string such as a dict
    key never counts for a method.  A scope is a module-level def, a
    class method (``Class.method``), a class body or the module
    itself."""
    defs: list[tuple[str, Path]] = []
    refs: dict[str, set] = {}
    trees = [(path, ast.parse(path.read_text(), str(path))) for path in _non_test_sources()]
    bases = {
        node.name: [b.id for b in node.bases if isinstance(b, ast.Name)]
        for _, tree in trees
        for node in tree.body
        if isinstance(node, ast.ClassDef)
    }

    def lineage(cls):
        out, todo = [], [cls]
        while todo:
            c = todo.pop()
            if c in bases and c not in out:
                out.append(c)
                todo += bases[c]
        return out

    def note(node, path, scope, cls=None):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                keys = [n.id]
            elif isinstance(n, ast.Attribute):
                recv = n.value.id if isinstance(n.value, ast.Name) else None
                owner = cls if recv in ("self", "cls") and cls else recv
                keys = [n.attr] + (
                    [f"{c}.{n.attr}" for c in lineage(owner)] if owner in bases
                    else [f".{n.attr}"]
                )
            elif isinstance(n, ast.ImportFrom):
                keys = [a.name for a in n.names]
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and n.value.isidentifier():
                keys = [n.value]
            else:
                continue
            for key in keys:
                refs.setdefault(key, set()).add((path, scope))

    for path, tree in trees:
        engine = path.is_relative_to(_REPO / "aqueduct_core_spark")
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if engine and not node.name.startswith("_"):
                    defs.append((node.name, path))
                note(node, path, node.name)
            elif isinstance(node, ast.ClassDef):
                public = engine and not node.name.startswith("_")
                if public:
                    defs.append((node.name, path))
                for d in (*node.decorator_list, *node.bases):
                    note(d, path, None)
                for b in node.body:
                    if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        q = f"{node.name}.{b.name}"
                        if public and not b.name.startswith("_"):
                            defs.append((q, path))
                        note(b, path, q, node.name)
                    else:
                        note(b, path, node.name, node.name)
            else:
                note(node, path, None)
    return defs, refs


def _referenced(qualname: str, path: Path, refs: dict) -> bool:
    """True when a scope other than the definition's own body names it
    (for a class: other than its own body and methods)."""
    keys = (qualname, "." + qualname.rsplit(".", 1)[-1]) if "." in qualname else (qualname,)
    for key in keys:
        for p, scope in refs.get(key, ()):
            own = scope == qualname or (
                "." not in qualname and scope is not None
                and scope.split(".", 1)[0] == qualname
            )
            if p != path or not own:
                return True
    return False


def test_no_test_only_public_surface():
    """Every public module-level def and class method of the engine is
    referenced from non-test code (another engine body,
    ``__spark_entry__.py``, ``bench.py``, ``bench/``, ``tools/`` or
    ``perfbench/``) or sits in ``_TEST_ONLY_ALLOWED`` with its reason.
    The allowlist holds no stale entry: a name that gains a caller or
    goes away leaves it."""
    defs, refs = _public_surface_and_references()
    test_only = {q for q, p in defs if not _referenced(q, p, refs)}
    assert all(r.strip() for r in _TEST_ONLY_ALLOWED.values())
    assert sorted(test_only - set(_TEST_ONLY_ALLOWED)) == []
    assert sorted(set(_TEST_ONLY_ALLOWED) - test_only) == []
