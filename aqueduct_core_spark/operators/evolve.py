"""Schema evolution: additive columns + safe type widening, both
metadata-only (north rule: new columns like ``tool`` metadata appear
mid-stream and must be absorbed without rewrite).

The reference gets payload evolution for free because payloads are
opaque JSON strings (``pipe-api/.../Message.java:14-31`` — the engine
never introspects ``data``).  Here payload fields are real columns, so
evolution is explicit:

- a batch carrying a never-seen column extends the table schema
  (metadata-only — old Parquet files simply lack the column and read
  back as nulls; Iceberg ``ALTER TABLE ... ADD COLUMNS`` on the
  production backend);
- a batch *missing* known columns gets them null-filled;
- a batch carrying a **wider** type for a known payload column widens
  the table column in place (Iceberg's schema-evolution rules:
  int → long, float → double, decimal precision growth at equal
  scale; ``ALTER TABLE ... ALTER COLUMN ... TYPE`` on Iceberg).
  Metadata-only here too: Spark 4's Parquet reader reads the old
  narrow files through the widened schema directly (widening type
  promotion, SPARK-40876), so no rewrite happens;
- a batch carrying a **narrower** type than the table (e.g. an
  epoch-0 int segment replayed after the column went long) is upcast
  in :func:`align_exprs` — lossless by the same rule.

Key columns (``conv_id``, ``turn_idx``) and anything else —
narrowings, string↔numeric, drops — raise
:class:`IncompatibleSchemaChange`: keys must stay byte-stable (bucket
hashing and LWW comparisons depend on them), and lossy changes are
never applied silently.
"""

from __future__ import annotations

from pyspark.sql import types as T

from aqueduct_core_spark.schema import KEY_COLUMNS, LSN_COLUMN, sql_ident

#: change-log columns that are engine metadata, not payload
_NON_PAYLOAD = {
    "lsn", "op", "event_size", "cluster_id", "location_group",
    "_salt", "_bucket", "_lsn",
}

#: integral widening ladder (parquet stores byte/short as INT32, so
#: every step is physically safe for old files)
_INT_ORDER = {T.ByteType(): 0, T.ShortType(): 1, T.IntegerType(): 2, T.LongType(): 3}


class IncompatibleSchemaChange(Exception):
    pass


def widens(frm: T.DataType, to: T.DataType) -> bool:
    """True when ``frm`` can evolve to ``to`` without rewriting data —
    the Iceberg schema-evolution widenings (spec §Schema Evolution):
    int → long, float → double, decimal(P,S) → decimal(P',S) with
    P' > P, plus the byte/short integral ladder."""
    if frm in _INT_ORDER and to in _INT_ORDER:
        return _INT_ORDER[frm] < _INT_ORDER[to]
    if isinstance(frm, T.FloatType) and isinstance(to, T.DoubleType):
        return True
    if isinstance(frm, T.DecimalType) and isinstance(to, T.DecimalType):
        return frm.scale == to.scale and frm.precision < to.precision
    return False


def rename_column(table, old: str, new: str) -> dict:
    """Rename a payload column — metadata-only (Iceberg ``ALTER TABLE
    … RENAME COLUMN``): data files keep the physical name the column
    was born with; the snapshot gains a {logical: physical} mapping
    entry applied at the read/write boundaries.  Key columns are never
    renameable (bucket hashing and LWW identity depend on them); the
    new name must not collide with any visible column.  Time travel
    honors history: a read as of a pre-rename version sees the old
    name.  Returns the committed snapshot."""
    mapping = table.column_mapping()
    if old in KEY_COLUMNS or old == LSN_COLUMN:
        raise IncompatibleSchemaChange(f"key/internal column {old!r} is not renameable")
    if old not in mapping:
        raise IncompatibleSchemaChange(f"unknown column {old!r}; visible: {sorted(mapping)}")
    if new in mapping or new in KEY_COLUMNS or new == LSN_COLUMN:
        raise IncompatibleSchemaChange(f"column name {new!r} already in use")
    base = table.catalog.current()
    stored = dict(base.get("column_mapping", {}))
    stored.pop(old, None)
    physical = mapping[old]
    if new != physical:
        stored[new] = physical
    return table.catalog.commit(
        base,
        column_mapping=stored,
        summary_updates={"aqueduct.rename-column": f"{old}->{new}"},
    )


def batch_payload_fields(batch) -> list[T.StructField]:
    """Payload fields of an incoming change batch (a DataFrame, or its
    ``StructType``), key columns first."""
    schema = batch if isinstance(batch, T.StructType) else batch.schema
    return [f for f in schema.fields if f.name not in _NON_PAYLOAD]


def evolve_table_fields(
    table_fields: list[T.StructField], batch
) -> tuple[list[T.StructField], list[str], list[str]]:
    """Return (new table field list, added column names, widened
    column names).

    Additive + widening only: a new batch payload column is appended
    before ``_lsn``; a known payload column arriving with a wider type
    widens the table field in place; a known column arriving with a
    *narrower* type keeps the table's type (the batch is upcast in
    :func:`align_exprs`).  Everything else raises.
    """
    by_name = {f.name: f for f in table_fields}
    added: list[str] = []
    widened: list[str] = []
    out = [f for f in table_fields if f.name != LSN_COLUMN]
    for f in batch_payload_fields(batch):
        if f.name in by_name:
            cur = by_name[f.name].dataType
            if cur == f.dataType:
                continue
            if f.name in KEY_COLUMNS:
                raise IncompatibleSchemaChange(
                    f"key column {f.name} must keep its type: {cur} -> {f.dataType}"
                )
            if widens(cur, f.dataType):
                out = [
                    T.StructField(f.name, f.dataType, True) if g.name == f.name else g
                    for g in out
                ]
                widened.append(f.name)
            elif widens(f.dataType, cur):
                pass  # batch narrower than table: align_exprs upcasts
            else:
                raise IncompatibleSchemaChange(
                    f"column {f.name}: {cur} -> {f.dataType}"
                )
        else:
            out.append(T.StructField(f.name, f.dataType, True))
            added.append(f.name)
    out.append(T.StructField(LSN_COLUMN, T.LongType(), False))
    return out, added, widened


def align_exprs(
    batch_fields: list[T.StructField],
    table_fields: list[T.StructField],
    sources: list[str] | None = None,
) -> list[str]:
    """SQL select list that aligns a batch to ``table_fields``: upcast
    batch columns the table holds wider (lossless —
    :func:`evolve_table_fields` already vetoed anything else),
    null-fill table columns the batch doesn't carry (e.g. replaying an
    epoch-0 segment after evolution) and append them in table order.
    Engine metadata columns pass through untouched.  ``sources`` names
    the column each batch field is read from, when that differs from
    the field's (physical) name — the logical name before a rename."""
    types = {f.name: f.dataType for f in table_fields}
    have = {f.name for f in batch_fields}
    out = []
    for i, f in enumerate(batch_fields):
        src = sql_ident(sources[i] if sources else f.name)
        want = types.get(f.name)
        if want is not None and f.dataType != want:
            src = f"CAST({src} AS {want.simpleString()})"
        out.append(f"{src} AS {sql_ident(f.name)}")
    for f in table_fields:
        if f.name == LSN_COLUMN or f.name in have or f.name in KEY_COLUMNS:
            continue
        out.append(f"CAST(NULL AS {f.dataType.simpleString()}) AS {sql_ident(f.name)}")
    return out
