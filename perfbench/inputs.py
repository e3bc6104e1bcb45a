"""Seeded benchmark inputs, generated once and cached on disk.

Two layouts of one change log per ``(seed, n_convs)``:

- ``native``: the generator's own order.  Conversation ``i`` owns the
  lsn range ``[i*STRIDE, (i+1)*STRIDE)``, so each conversation's events
  are contiguous in lsn.  Written as ``NATIVE_FILES`` files of whole
  conversation ranges, so the files' lsn ranges never overlap.
- ``interleaved``: the same events with lsns remapped by
  :func:`interleave_lsn`, so that each lsn slice carries the next
  revision of many conversations.  Sorted and range-partitioned into
  ``INTERLEAVED_FILES`` files of equal row count, so the footer file
  index sees non-overlapping files and one file is one tail slice.

Generation runs the generator's per-conversation kernel in a pool of
spawned processes (no JVM), outside every timed window.  The output is
row-for-row what ``generate_changes(spark, n_convs, seed)`` yields,
because both run the same deterministic kernel per conversation.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil

import numpy as np

NATIVE_FILES = 24
INTERLEAVED_FILES = 6
HOT_FRACTION = 0.01
N_CLUSTERS = 8


def interleave_lsn(lsn: np.ndarray, n_convs: int, stride: int) -> np.ndarray:
    """Remap generator lsns so conversations interleave.

    ``lsn = conv * stride + k`` (the k-th event of conversation ``conv``)
    becomes ``k * n_convs + conv``.  Within one conversation ``k`` keeps
    its order, so per-key order (all LWW needs) is preserved; across
    conversations the k-th events of all conversations become adjacent.
    The map is injective for ``conv < n_convs`` and ``k < stride``.
    """
    lsn = np.asarray(lsn, dtype=np.int64)
    return (lsn % stride) * n_convs + lsn // stride


def _arrow_schema():
    import pyarrow as pa

    # tz-aware micros: parquet isAdjustedToUTC=true is what Spark reads
    # back as TimestampType (CHANGES_SCHEMA), not TIMESTAMP_NTZ
    return pa.schema(
        [
            pa.field("lsn", pa.int64(), nullable=False),
            pa.field("op", pa.string(), nullable=False),
            pa.field("conv_id", pa.string(), nullable=False),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("event_size", pa.int32()),
            pa.field("cluster_id", pa.int64()),
            pa.field("location_group", pa.int64()),
        ]
    )


def _gen_chunk(args: tuple[int, int, int]):
    """Pool worker: events of conversations ``[lo, hi)`` as an arrow table."""
    lo, hi, seed = args
    import pandas as pd
    import pyarrow as pa

    from aqueduct_core_spark.generator import _conv_events

    # same hot-conversation rule as generator.generate_changes
    hot_every = max(1, int(round(1.0 / HOT_FRACTION)))
    frames = [
        _conv_events(i, seed, hot=bool(i % hot_every == hot_every // 2), n_clusters=N_CLUSTERS)
        for i in range(lo, hi)
    ]
    pdf = pd.concat(frames, ignore_index=True)
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=_arrow_schema(), preserve_index=False)


def generate_log(n_convs: int, seed: int, procs: int):
    """The whole change log, lsn-sorted, as one arrow table."""
    import pyarrow as pa

    n_chunks = max(procs * 4, 1)
    bounds = [(i * n_convs // n_chunks, (i + 1) * n_convs // n_chunks, seed) for i in range(n_chunks)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        parts = pool.map(_gen_chunk, bounds)
    # chunks are conversation ranges in order and each is lsn-sorted
    return pa.concat_tables(parts)


def _write_split(table, out_dir: str, n_files: int) -> list[str]:
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    paths = []
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path, compression="snappy")
        paths.append(path)
    return paths


def _code_tag(root: str) -> str:
    """Cache key part: the generator's source, so a changed generator
    never reuses an old log."""
    with open(os.path.join(root, "aqueduct_core_spark", "generator.py"), "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:12]


def ensure_inputs(root: str, cache_root: str, n_convs: int, seed: int, procs: int) -> dict:
    """Build (or reuse) both layouts for ``(seed, n_convs)`` and the file
    counts; returns the cache entry's metadata with absolute paths."""
    key = f"s{seed}-c{n_convs}-f{NATIVE_FILES}.{INTERLEAVED_FILES}-{_code_tag(root)}"
    entry = os.path.join(cache_root, key)
    meta_path = os.path.join(entry, "meta.json")
    if not os.path.exists(meta_path):
        _build(entry, n_convs, seed, procs)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["native_dir"] = os.path.join(entry, "native")
    meta["interleaved_dir"] = os.path.join(entry, "interleaved")
    for f in meta["interleaved_files"]:
        f["path"] = os.path.join(entry, "interleaved", f["name"])
    return meta


def _build(entry: str, n_convs: int, seed: int, procs: int) -> None:
    import pyarrow as pa

    from aqueduct_core_spark.generator import STRIDE

    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = generate_log(n_convs, seed, procs)
    native = _write_split(table, os.path.join(tmp, "native"), NATIVE_FILES)

    new_lsn = interleave_lsn(table.column("lsn").to_numpy(), n_convs, STRIDE)
    order = np.argsort(new_lsn, kind="stable")
    remapped = table.set_column(0, "lsn", pa.array(new_lsn)).take(pa.array(order))
    remapped = remapped.cast(_arrow_schema())
    interleaved = _write_split(remapped, os.path.join(tmp, "interleaved"), INTERLEAVED_FILES)

    meta = {
        "seed": seed,
        "n_convs": n_convs,
        "events": table.num_rows,
        "native_bytes": sum(os.path.getsize(p) for p in native),
        "interleaved_files": [
            {
                "name": os.path.basename(p),
                "rows": hi - lo,
                "bytes": os.path.getsize(p),
                "min_lsn": int(new_lsn[order[lo]]),
                "max_lsn": int(new_lsn[order[hi - 1]]),
            }
            for p, lo, hi in (
                (p, i * table.num_rows // INTERLEAVED_FILES, (i + 1) * table.num_rows // INTERLEAVED_FILES)
                for i, p in enumerate(interleaved)
            )
        ],
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(entry, ignore_errors=True)
    os.rename(tmp, entry)
