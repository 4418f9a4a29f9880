"""Seeded input generator for the benchmark.

Builds the engine's ten input tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas and
value domains of the engine's test fixtures (FIXTURES.md section 2), from a
seed alone: the same seed gives byte-identical parquet files, and no file
outside the output directory is read.

Two shapes are built:

* ``relational(out, seed, replicas)`` -- one fixture-sized base block
  (sf0.01: 60k lineitems, 500 documents) plus ``replicas - 1`` key-shifted
  copies of orders, lineitem and events, the replication recipe of
  ``experiments/scaling_axis_r15.py``: the copies shift the keys, so joins
  and group-bys see ``replicas`` times the rows with the base block's
  distributions.
* ``corpus_shards`` + ``write_epoch`` -- the crawl corpus
  (documents, embeddings, events) split into seeded shards with disjoint
  ids; epoch k's table directories hold shards 0..k as separate part files,
  and each part file is byte-identical across epochs, which is the
  append-only shape the persisted index store delta-adopts.
"""
from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIMS = ("region", "nation", "customer", "supplier", "part")
# table -> key columns shifted per replica (scaling_axis_r15.py's recipe)
REPLICATED = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
}
CORPUS = ("documents", "embeddings", "events")
SHIFT = 100_000_000

# base block sizes: the sf0.01 fixture's row counts
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15_000, 60_000, 10_000
N_DOCS, N_VECS = 500, 500

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("small", "hot", "red", "blue", "large", "old", "cold", "new")
_PART_NOUN = ("widget", "gear", "plate", "bolt", "ring", "rod", "gizmo",
              "anvil")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_US_PER_DAY = 86_400_000_000
_TS = pa.timestamp("us")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _US_PER_DAY).astype(np.int64)


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, n: int, rng, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _dims(rng) -> dict[str, pa.Table]:
    nk = np.arange(25, dtype=np.int32)
    pk = np.arange(N_PART, dtype=np.int64)
    names = [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
        rng.integers(0, len(_PART_ADJ), N_PART),
        rng.integers(0, len(_PART_NOUN), N_PART))]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(nk),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(
                rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": _money(-999.99, 9999.99, N_CUSTOMER, rng),
            "c_mktsegment": _pick(_SEGMENTS, N_CUSTOMER, rng)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(
                rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
            "s_acctbal": _money(-999.99, 9999.99, N_SUPPLIER, rng)}),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": names,
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": _pick(_PART_TYPES, N_PART, rng),
            "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}),
    }


def _orders(rng) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": _pick(("P", "O", "F"), N_ORDERS, rng),
        "o_totalprice": _money(1000.0, 500_000.0, N_ORDERS, rng),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01",
                                      N_ORDERS, rng), _TS),
        "o_orderpriority": _pick(_PRIORITIES, N_ORDERS, rng)})


def _lineitem(rng) -> pa.Table:
    n = N_LINEITEM
    okey = np.sort(rng.integers(0, N_ORDERS, n))  # ~1.8% of orders get none
    first = np.searchsorted(okey, okey, side="left")
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, N_PART, n)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n)),
        "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n, rng),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(("R", "A", "N"), n, rng),
        "l_linestatus": _pick(("O", "F"), n, rng),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng),
                               _TS)})


def _events(rng, n: int, id0: int = 0) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.integers(0, N_CUSTOMER // 10, n)),
        "event_type": _pick(_EVENT_TYPES, n, rng),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n: int, id0: int = 0) -> pa.Table:
    """Bags of words over the fixtures' 30-word vocabulary, 10-100 words,
    with 5% near-duplicates (an earlier document's text plus " dup") so
    the near-dup operators find pairs."""
    vocab = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": texts,
        "lang": _pick(_LANGS, n, rng, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n: int, id0: int = 0) -> pa.Table:
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _shifted(table: pa.Table, keys: tuple[str, ...], i: int) -> pa.Table:
    for k in keys:
        idx = table.schema.get_field_index(k)
        table = table.set_column(idx, k, pc.add(table[k], i * SHIFT))
    return table


def relational(out: str, seed: int, replicas: int) -> None:
    """The query_mix input directory: dims + ``replicas`` key-shifted copies
    of orders, lineitem and events, one fixture-sized documents and
    embeddings table (the corpus the index store indexes)."""
    rng = np.random.default_rng([seed, 1])
    for name, t in _dims(rng).items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    base = {"orders": _orders(rng), "lineitem": _lineitem(rng),
            "events": _events(rng, N_EVENTS)}
    for name, t in base.items():
        keys = REPLICATED[name]
        _write(pa.concat_tables([_shifted(t, keys, i)
                                 for i in range(replicas)]),
               os.path.join(out, f"{name}.parquet"))
    _write(_documents(rng, N_DOCS), os.path.join(out, "documents.parquet"))
    _write(_embeddings(rng, N_VECS), os.path.join(out, "embeddings.parquet"))


def corpus_shards(seed: int, n_shards: int, docs: int, vecs: int,
                  events: int) -> list[dict[str, pa.Table]]:
    """The crawl corpus as ``n_shards`` seeded shards with disjoint ids;
    each shard carries ``docs``/``vecs``/``events`` rows."""
    rng = np.random.default_rng([seed, 2])
    return [{"documents": _documents(rng, docs, s * docs),
             "embeddings": _embeddings(rng, vecs, s * vecs),
             "events": _events(rng, events, s * events)}
            for s in range(n_shards)]


def write_dims(out: str, seed: int) -> None:
    for name, t in _dims(np.random.default_rng([seed, 1])).items():
        _write(t, os.path.join(out, f"{name}.parquet"))


def write_epoch(out: str, shards: list[dict[str, pa.Table]], k: int,
                dims_dir: str) -> None:
    """Epoch k's input directory: corpus tables as directories of part
    files ``part-00000.parquet`` .. ``part-0000k.parquet`` (shard s is
    written from the same table, so its part file is the same bytes in
    every epoch), plus hardlinks to the dimension tables."""
    os.makedirs(out, exist_ok=True)
    for name in DIMS:
        os.link(os.path.join(dims_dir, f"{name}.parquet"),
                os.path.join(out, f"{name}.parquet"))
    for name in CORPUS:
        tdir = os.path.join(out, f"{name}.parquet")
        os.makedirs(tdir)
        for s in range(k + 1):
            _write(shards[s][name], os.path.join(tdir, f"part-{s:05d}.parquet"))


def digest(root: str) -> str:
    """md5 over every file's relative path and bytes under ``root``."""
    h = hashlib.md5()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def input_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)
