"""Result checks, run outside the timed region; a mismatch is a failed op."""

from __future__ import annotations

import base64

import pyarrow as pa


def decode(parts: list[str]) -> pa.Table:
    """Arrow table from the base64 IPC chunks of one query response."""
    tables = [pa.ipc.open_stream(base64.b64decode(p)).read_all() for p in parts]
    return pa.concat_tables(tables) if len(tables) > 1 else tables[0]


def rows_normalized(tbl: pa.Table) -> list[tuple]:
    """The repository's oracle normalisation (column order by name, canonical
    values, order-insensitive)."""
    from tests.compare import normalize_rows

    cols = tbl.column_names
    return normalize_rows(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])


def _canonical(tbl: pa.Table) -> pa.Table:
    """Columns by lower-cased name, timestamps as naive UTC, rows sorted."""
    import pyarrow.compute as pc

    cols = sorted(tbl.column_names, key=str.lower)
    arrays, names = [], []
    for c in cols:
        col = tbl.column(c)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        elif pa.types.is_large_string(col.type):
            col = col.cast(pa.string())
        arrays.append(col)
        names.append(c.lower())
    out = pa.table(arrays, names=names)
    if out.num_rows > 1:
        out = out.take(pc.sort_indices(out, sort_keys=[(c, "ascending") for c in names]))
    return out.combine_chunks()


def same_table(a: pa.Table, b: pa.Table) -> bool:
    """Exact, order-insensitive equality for large results of plain types."""
    ca, cb = _canonical(a), _canonical(b)
    if ca.schema.names != cb.schema.names or ca.num_rows != cb.num_rows:
        return False
    if ca.schema.types != cb.schema.types:
        return same_rows(a, b)
    return ca.equals(cb)


def same_rows(a: pa.Table, b: pa.Table) -> bool:
    if sorted(c.lower() for c in a.column_names) != sorted(c.lower() for c in b.column_names):
        return False
    return a.num_rows == b.num_rows and rows_normalized(a) == rows_normalized(b)
