"""Seeded input generator for the benchmark.

Every table the registry reads is synthesized from ``--seed`` with NumPy
and written with pyarrow, in the on-disk layout of the project's test
fixtures (one parquet file per table, ``events.ts`` as TIMESTAMP(NANOS),
order/ship dates as TIMESTAMP(MILLIS)). Nothing is read from outside the
output directory, so the program under test sees only generated inputs.

Distributions follow the fixture profile (FIXTURES.md): uniform keys,
two-decimal money values, whole-number speeds, 150 users per 10k events, ts-ordered
events over January 2024, a 31-word document vocabulary with ~5% planted
near-duplicates (copy + " dup") and a few exact duplicates, and unit
embeddings clustered around ten label centroids.

Determinism: each table draws from its own ``numpy.random.Generator``
seeded with ``(seed, table index)``, so the same seed gives the same rows
(:func:`row_hash`) and a new seed gives different rows with the same
counts.

Growth model. ``scale`` multiplies every fact and dimension row count
relative to the sf0.01 fixture (10k events, 60k lineitem); key ranges
grow with it, so per-key row counts (per user, per order, per part) stay
constant and joins stay linear. Event time is NOT stretched: events stay
inside one month, so per-hour density grows with ``scale``. The
alternative (appending time-overlapping replica copies, as
tools/gen_scale.py does with its per-copy id offsets) was measured to
blow up ``q13_follow_within`` from 0.7 s to 20.8 s at 10x rows, because
its follow-within self-join matches every overlapping copy.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "blue", "small", "hot", "new", "old", "big", "green")
PART_NOUN = ("widget", "bolt", "ring", "rod", "plate", "anvil", "gear", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBEDDING_DIM = 64
# Part of every cache directory name: bump when the generated rows change.
VERSION = 6

# Row counts at scale 1.0 (the sf0.01 fixture).
BASE_ROWS = {
    "supplier": 100,
    "customer": 1_500,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
}
_EVENTS_START_NS = 1_704_067_200 * 10**9  # 2024-01-01 00:00:00 UTC
_EVENTS_SPAN_NS = 30 * 86_400 * 10**9
_DATE_START_MS = 788_918_400_000  # 1995-01-01
_DATE_SPAN_DAYS = 2_404  # .. 2001-08-01
_TABLE_INDEX = {
    name: i
    for i, name in enumerate(
        ("region", "nation", "supplier", "customer", "part", "orders",
         "lineitem", "events", "documents", "embeddings")
    )
}


def _rng(seed: int, table: str, salt: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_INDEX[table], salt])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _n(table: str, scale: float) -> int:
    return max(1, int(round(BASE_ROWS[table] * scale)))


def _ms(days: np.ndarray) -> pa.Array:
    return pa.array(_DATE_START_MS + days.astype(np.int64) * 86_400_000, pa.timestamp("ms"))


def make_events(seed: int, n: int) -> pa.Table:
    """``n`` ts-ordered events with ids 0..n-1."""
    rng = _rng(seed, "events")
    # Microsecond-grained instants stored as ns: the loader floors ns to
    # us and the oracle truncates, which agree only on whole microseconds.
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_NS // 1000, n)) * 1000 + _EVENTS_START_NS
    users = max(1, n * 150 // 10_000)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            # Whole km/h. Sums of whole numbers are exact in any order, and
            # an average rounded to 6 decimals is an exact tie (a 5 at the
            # 7th decimal) only if the group size is a multiple of 128 whose
            # odd part divides the sum. With cents a group of 64 rows ties
            # half the time, and the engine and the oracle round ties apart.
            "value": pa.array(np.floor(rng.exponential(50.0, n)) + 1.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tpch(seed: int, scale: float) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    }
    n_s, n_c, n_p, n_o, n_l = (
        _n(t, scale) for t in ("supplier", "customer", "part", "orders", "lineitem")
    )
    rng = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }
    )
    rng = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)]),
        }
    )
    rng = _rng(seed, "part")
    adj, noun = rng.integers(0, len(PART_ADJ), n_p), rng.integers(0, len(PART_NOUN), n_p)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_p)]),
            "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2)),
        }
    )
    rng = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_o)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
            "o_orderdate": _ms(rng.integers(0, _DATE_SPAN_DAYS, n_o)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_o)]),
        }
    )
    rng = _rng(seed, "lineitem")
    orderkey = np.sort(rng.integers(0, n_o, n_l, dtype=np.int64))
    # linenumber = 1-based position within its order (orderkey is sorted).
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_l) - np.repeat(starts, np.diff(np.r_[starts, n_l])) + 1
    quantity = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(linenumber.astype(np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * rng.uniform(18.0, 2100.0, n_l), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_l)]),
            "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_l)]),
            "l_shipdate": _ms(rng.integers(1, _DATE_SPAN_DAYS + 95, n_l)),
        }
    )
    return out


def make_documents(seed: int, n: int, shard: int = 0) -> pa.Table:
    rng = _rng(seed, "documents", shard)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    # 5% near-duplicates (an earlier doc plus " dup") and 0.5% exact
    # copies, at seeded positions; fixed counts keep the dedup chain's work
    # the same from seed to seed.
    planted = np.sort(rng.choice(np.arange(1, n), size=max(1, n * 11 // 200), replace=False))
    for j, i in enumerate(planted):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if j % 10 == 0 else src + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def make_embeddings(seed: int, n: int, shard: int = 0) -> pa.Table:
    rng = _rng(seed, "embeddings", shard)
    centroids = rng.normal(size=(10, EMBEDDING_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=2.5, size=(n, EMBEDDING_DIM))
    # 3% planted near-duplicate vectors for the near-dup operators.
    dups = np.sort(rng.choice(np.arange(1, n), size=max(1, n * 3 // 100), replace=False))
    for i in dups:
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMBEDDING_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_dataset(out_dir: str, seed: int, scale: float, n_docs: int) -> None:
    """All ten tables under ``out_dir`` as ``<table>.parquet`` files."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tpch(seed, scale)
    tables["events"] = make_events(seed, _n("events", scale))
    tables["documents"] = make_documents(seed, n_docs)
    tables["embeddings"] = make_embeddings(seed, n_docs)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def write_corpus_shard(out_dir: str, base_dir: str, seed: int, shard: int, n_docs: int) -> None:
    """A fresh documents/embeddings pair under ``out_dir``; the other
    tables are hard links to ``base_dir``'s files."""
    os.makedirs(out_dir, exist_ok=True)
    _write(make_documents(seed, n_docs, shard), os.path.join(out_dir, "documents.parquet"))
    _write(make_embeddings(seed, n_docs, shard), os.path.join(out_dir, "embeddings.parquet"))
    for name in os.listdir(base_dir):
        dst = os.path.join(out_dir, name)
        if name.endswith(".parquet") and name not in ("documents.parquet", "embeddings.parquet"):
            if not os.path.exists(dst):
                os.link(os.path.join(base_dir, name), dst)


def write_backlog(out_dir: str, seed: int, n_files: int, per_file: int) -> None:
    """A ts-ordered event backlog split into ``n_files`` landing files."""
    os.makedirs(out_dir, exist_ok=True)
    events = make_events(seed, n_files * per_file)
    for i in range(n_files):
        _write(events.slice(i * per_file, per_file), os.path.join(out_dir, f"events-{i:05d}.parquet"))


def row_hash(path: str) -> str:
    """Content hash of one parquet file or a directory of them (sorted)."""
    files = (
        sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
        if os.path.isdir(path)
        else [path]
    )
    h = hashlib.sha256()
    for f in files:
        sink = pa.BufferOutputStream()
        table = pq.read_table(f)
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
