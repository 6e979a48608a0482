"""Deterministic benchmark fixtures, generated inside the checkout.

Every table is derived from fixed seeds, so two checkouts of the same
benchmark read byte-identical inputs; `fixture_digest` records a content
sha256 per fixture so an A/B pair can prove it.

``star_sf<sf>`` is the engine's star schema (region ... lineitem, column
subset and types of the test fixtures) projected from DuckDB's bundled
``dbgen``, plus the ``events``, ``documents`` and ``embeddings`` tables.
Documents and embeddings are drawn exactly as ``tools_scaling_llm.py`` draws
them; events follow the test fixtures' shape (see `events_table`). Each file
is a single row group, like the test fixtures, so the engine's
resident-layout rewrite runs at registration. The full-schema dbgen tables
for the verbatim TPC-H texts come from ``tools_tpch_verbatim.ensure_fixture``.
"""

from __future__ import annotations

import hashlib
import os
import random

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

#: star-schema projection of the dbgen tables: (column, DuckDB expression, type)
_STAR_COLUMNS = {
    "region": [("r_regionkey", "r_regionkey", "INTEGER"), ("r_name", "r_name", "VARCHAR")],
    "nation": [
        ("n_nationkey", "n_nationkey", "INTEGER"),
        # the test fixtures name nations NATION_<key>; specs filter on them
        ("n_name", "'NATION_' || CAST(n_nationkey AS VARCHAR)", "VARCHAR"),
        ("n_regionkey", "n_regionkey", "INTEGER"),
    ],
    "customer": [
        ("c_custkey", "c_custkey", "BIGINT"),
        ("c_name", "c_name", "VARCHAR"),
        ("c_nationkey", "c_nationkey", "INTEGER"),
        ("c_acctbal", "c_acctbal", "DOUBLE"),
        ("c_mktsegment", "c_mktsegment", "VARCHAR"),
    ],
    "supplier": [
        ("s_suppkey", "s_suppkey", "BIGINT"),
        ("s_name", "s_name", "VARCHAR"),
        ("s_nationkey", "s_nationkey", "INTEGER"),
        ("s_acctbal", "s_acctbal", "DOUBLE"),
    ],
    "part": [
        ("p_partkey", "p_partkey", "BIGINT"),
        (
            "p_name",
            "list_value('small','hot','red','blue','large','old','cold','new')[(p_partkey % 8) + 1]"
            " || ' ' || list_value('widget','plate','gear','bolt','rod','ring','gizmo','anvil')"
            "[((p_partkey // 8) % 8) + 1]",
            "VARCHAR",
        ),
        ("p_brand", "p_brand", "VARCHAR"),
        ("p_type", "split_part(p_type, ' ', 1)", "VARCHAR"),
        ("p_size", "p_size", "INTEGER"),
        ("p_retailprice", "p_retailprice", "DOUBLE"),
    ],
    "orders": [
        ("o_orderkey", "o_orderkey", "BIGINT"),
        ("o_custkey", "o_custkey", "BIGINT"),
        ("o_orderstatus", "o_orderstatus", "VARCHAR"),
        ("o_totalprice", "o_totalprice", "DOUBLE"),
        ("o_orderdate", "o_orderdate", "TIMESTAMP"),
        ("o_orderpriority", "o_orderpriority", "VARCHAR"),
    ],
    "lineitem": [
        ("l_orderkey", "l_orderkey", "BIGINT"),
        ("l_partkey", "l_partkey", "BIGINT"),
        ("l_suppkey", "l_suppkey", "BIGINT"),
        ("l_linenumber", "l_linenumber", "INTEGER"),
        ("l_quantity", "l_quantity", "DOUBLE"),
        ("l_extendedprice", "l_extendedprice", "DOUBLE"),
        ("l_discount", "l_discount", "DOUBLE"),
        ("l_tax", "l_tax", "DOUBLE"),
        ("l_returnflag", "l_returnflag", "VARCHAR"),
        ("l_linestatus", "l_linestatus", "VARCHAR"),
        ("l_shipdate", "l_shipdate", "TIMESTAMP"),
    ],
}

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data a "
    "join scale plan page read"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _write_one_group(tbl, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def _dbgen(sf: float):
    import duckdb

    con = duckdb.connect()
    con.execute("LOAD tpch")
    con.execute(f"CALL dbgen(sf={sf})")
    return con


def events_table(n_events: int, n_users: int, seed: int = 4242):
    """Events in the shape of the test fixtures' ``events.parquet``: ``ts``
    uniform over 30 days and ascending with ``event_id``, the five event
    types equally likely, ``value`` exponential with mean 50 (2 decimals),
    ``props`` '{"k": N}' with N uniform in 0..99."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    base_us = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(base_us + rng.integers(0, 30 * 24 * 3600 * 1_000_000, n_events))
    types = np.array(EVENT_TYPES)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 5, n_events)], pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def documents_table(n_docs: int, seed: int = 42):
    """Corpus with ~0.2% exact and ~0.5% near duplicates (1-2 word edits)."""
    import pyarrow as pa

    rng = random.Random(seed)
    texts: list[str] = []
    langs, srcs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 100 and r < 0.002:
            text = texts[rng.randrange(len(texts))]
        elif i > 100 and r < 0.007:
            words = texts[rng.randrange(len(texts))].split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
        langs.append(rng.choice(LANGS))
        srcs.append(f"src{rng.randrange(20)}")
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": srcs,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(n_vecs: int, seed: int = 42):
    """Unit-norm 64-dim vectors around 10 cluster centres, label = centre."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    x = centers[labels] + 0.35 * rng.standard_normal((n_vecs, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32).tolist() for row in x], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )


def ensure_star(root: str, sf: float) -> str:
    """Star schema + events/documents/embeddings at scale factor ``sf``."""
    dest = os.path.join(root, f"star_sf{sf}")
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    con = _dbgen(sf)
    for t in STAR_TABLES:
        sel = ", ".join(f"CAST({e} AS {typ}) AS {c}" for c, e, typ in _STAR_COLUMNS[t])
        key = _STAR_COLUMNS[t][0][0]
        order = f"{key}, l_linenumber" if t == "lineitem" else key
        _write_one_group(con.execute(f"SELECT {sel} FROM {t} ORDER BY {order}").arrow(), f"{tmp}/{t}.parquet")
    con.close()
    _write_one_group(events_table(max(1000, int(1_000_000 * sf)), max(15, int(15_000 * sf))), f"{tmp}/events.parquet")
    _write_one_group(documents_table(max(500, int(50_000 * sf))), f"{tmp}/documents.parquet")
    _write_one_group(embeddings_table(max(500, int(20_000 * sf))), f"{tmp}/embeddings.parquet")
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, dest)
    return dest


def fixture_digest(path: str) -> str:
    """sha256 over the fixture's parquet files (name + content, sorted)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(path, name), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()
