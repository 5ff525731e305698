"""Seeded inputs and their Spark-free expected outputs.

Everything here is a pure function of ``seed``: the star-schema parquet
tables the query mix reads, the pipe-delimited text part files the loads
read, and the exact wire lines (plus shard placement) a correct load must
deliver. The expected side never touches Spark: the lines are rebuilt
from the generated columns with plain string operations, and placement
uses ``functions.murmur_np.guava_shard_codes`` plus the cumulative-weight
walk, the same derivation ``tests/test_loader_golden.py`` uses for the
loader goldens.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NULL = "\\N"
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_DAY_US = 86_400_000_000


def _days(start: str) -> np.int64:
    return np.datetime64(start, "D").astype(np.int64)


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    """Whole-day timestamps in [lo, hi) as datetime64[us]."""
    d = rng.integers(_days(lo), _days(hi), n)
    return (d * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _words(rng, lo: int, hi: int, n: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, i = [], 0
    for k in lens.tolist():
        out.append(" ".join(WORDS[j] for j in picks[i:i + k].tolist()))
        i += k
    return out


def lineitem_table(rng, n: int, n_orders: int, n_parts: int,
                   n_supp: int) -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-05"),
    })


def with_comments(rng, table: pa.Table) -> pa.Table:
    """Append ``l_comment``: a few words drawn from a seeded pool, 1% of
    them carrying a tab or a backslash that the wire sanitizer rewrites."""
    n = table.num_rows
    pool = np.array(_words(rng, 2, 7, 4096), dtype=object)
    comments = pool[rng.integers(0, len(pool), n)]
    for j in np.flatnonzero(rng.random(n) < 0.01).tolist():
        comments[j] = comments[j].replace(" ", "\t" if j % 2 else "\\", 1)
    return table.append_column("l_comment", pa.array(comments.tolist(), pa.string()))


def events_table(rng, n: int) -> pa.Table:
    """Time-ordered events; ``user_id`` repeats (one user per ~67 events)."""
    span = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span, n)) + _days("2024-01-01") * _DAY_US
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, n * 3 // 200), n),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": _money(rng, 0.0, 200.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The ten star-schema tables at ``scale`` (1.0 = 60 000 lineitem
    rows), one parquet file each, schemas as the registry queries read
    them. Returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_docs, n_vec = max(50, int(500 * scale)), max(50, int(500 * scale))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = np.array(["small", "large", "red", "blue", "hot", "cold"])
    nouns = np.array(["ring", "bolt", "widget", "rod", "gizmo", "gear"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(np.char.add(np.char.add(
            adjectives[rng.integers(0, 6, n_part)], " "),
            nouns[rng.integers(0, 6, n_part)])),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": pa.array(np.array(["ECONOMY", "SMALL", "LARGE", "STANDARD",
                                     "PROMO"])[rng.integers(0, 5, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 900.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    tables["lineitem"] = lineitem_table(rng, int(60000 * scale), n_ord, n_part, n_supp)
    tables["events"] = events_table(rng, int(10000 * scale))
    texts = _words(rng, 10, 100, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05).tolist():
        if i:  # near-duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": pa.array(langs[rng.integers(0, 7, n_docs)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- load inputs ------------------------------------------------------------

@dataclass
class LoadFixture:
    """One load's text input and everything needed to check its delivery.

    ``columns`` are the ClickHouse target's (name, type) pairs, the DESC
    answer; ``expected[i]`` is the multiset of wire lines that must reach
    every replica of shard index ``i`` (topology order)."""
    export_dir: str
    columns: list[tuple[str, str]]
    rows: int
    expected: list[Counter]


def _as_text(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """One column as the text an upstream export would write: whole-day
    timestamps as dates, everything else in Arrow's string cast."""
    if pa.types.is_timestamp(col.type):
        if not np.any(pc.cast(col, pa.int64()).to_numpy() % _DAY_US):
            col = pc.cast(col, pa.date32())
    return pc.cast(col, pa.string())


def write_load_fixture(root: str, name: str, table: pa.Table, *, seed: int,
                       key: str, target_types: list[str],
                       exclude: tuple[int, ...], additional: tuple[str, ...],
                       dt: str, parts: int, null_share: float,
                       shard_of_slot: list[int], n_shards: int,
                       total_weight: int) -> LoadFixture:
    """Write ``table`` as ``parts`` pipe-delimited part files under
    ``<root>/<name>/dt=<dt>/`` and derive the expected delivery.

    The expected wire line applies the loader's documented row rules by
    hand: drop ``exclude`` source positions, ``\\N`` → ``""`` on String
    targets and ``"0"`` elsewhere, append the ``dt`` partition value and
    the ``additional`` constants, map tab/newline/CR → space and ``\\`` →
    ``/``, join on tab."""
    from clickhouse_hdfs_loader_spark.functions.murmur_np import guava_shard_codes

    rng = np.random.default_rng([seed, 2])
    n = table.num_rows
    key_index = table.column_names.index(key)
    cols = []
    for i, col_name in enumerate(table.column_names):
        col = _as_text(table.column(col_name))
        if i != key_index:  # \N only in non-key fields
            col = pc.if_else(pa.array(rng.random(n) < null_share), NULL, col)
        cols.append(col)
    lines = pc.binary_join_element_wise(*cols, "|").to_pylist()
    export_dir = os.path.join(root, name, f"dt={dt}")
    os.makedirs(export_dir, exist_ok=True)
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for p in range(parts):
        with open(os.path.join(export_dir, f"part-{p:05d}"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines[bounds[p]:bounds[p + 1]]) + "\n")

    kept = [c for i, c in enumerate(cols) if i not in set(exclude)]
    names = [c for i, c in enumerate(table.column_names) if i not in set(exclude)]
    names += ["dt"] + [f"extra{i}" for i in range(len(additional))]
    if len(names) != len(target_types):
        raise ValueError(f"{name}: {len(names)} fields for {len(target_types)} target columns")
    fields = []
    for col, typ in zip(kept, target_types):
        if typ in ("String", "Nullable(String)"):
            fields.append(_sanitize(pc.if_else(pc.equal(col, NULL), "", col)))
        else:  # numeric, date and time text carries no tab, CR, LF or \\
            fields.append(pc.if_else(pc.equal(col, NULL), "0", col))
    fields += [pa.array([_sanitize(pa.array([c]))[0].as_py()] * n)
               for c in (dt, *additional)]
    wire = pc.binary_join_element_wise(*fields, "\t")

    keys = cols[key_index].to_pylist()
    shard = np.asarray(shard_of_slot)[guava_shard_codes(keys) % total_weight]
    expected = [Counter(wire.filter(pa.array(shard == s)).to_pylist())
                for s in range(n_shards)]
    return LoadFixture(export_dir, list(zip(names, target_types)), n, expected)


def _sanitize(col):
    """The wire rule for string fields: tab, newline, CR → space, ``\\`` → ``/``."""
    for old, new in (("\t", " "), ("\n", " "), ("\r", " "), ("\\", "/")):
        col = pc.replace_substring(col, old, new)
    return col
