"""Seeded input generator for the benchmark.

Writes the ten fixture-shaped tables the registry queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each) from nothing but a seed, so a run
never depends on data outside its checkout. The schemas and value
domains follow the project's TPC-H-shaped fixtures; the values, row
order and the md5(seed)-salted document tokens come from the seed.

Float columns that oracles round (prices, discounts, event values) are
drawn on a cents grid, so both engines round the same stored doubles.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window column data join small customer query order big filter "
    "stream group vector"
).split()

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table or a
    column never shifts the values of another."""
    digest = hashlib.md5(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100.0) / 100.0


def _write(out_dir: str, name: str, cols: dict, rng: np.random.Generator | None = None) -> dict:
    """Write one table, rows in a seed-permuted order; return its size."""
    table = pa.table(cols)
    if rng is not None:
        table = table.take(pa.array(rng.permutation(table.num_rows)))
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def write_tpch(out_dir: str, seed: int, sf: float) -> dict:
    """region..lineitem at scale factor ``sf`` (60k lineitem rows at 0.01)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000, 1_500_000))
    sizes = {
        "region": _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }

    r = _rng(seed, "customer")
    sizes["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }, r)

    r = _rng(seed, "supplier")
    sizes["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, n_supp)),
    }, r)

    r = _rng(seed, "part")
    sizes["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _cents(900.0 + (np.arange(n_part) % 1000) * 0.1),
    }, r)

    r = _rng(seed, "orders")
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    sizes["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": EPOCH_1995 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }, r)

    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    partkey = r.integers(0, n_part, n_li).astype(np.int64)
    sizes["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * (900.0 + (partkey % 1000) * 0.1) * r.uniform(0.9, 1.1, n_li)),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": EPOCH_1995 + (order_day[okey] + r.integers(1, 122, n_li)).astype("timedelta64[D]"),
    }, r)
    return sizes


def event_columns(seed: int, stream: str, n: int, first_id: int, t0_s: float, span_s: float, n_users: int) -> dict:
    """``n`` events with ids from ``first_id`` and event times spread
    over ``[t0_s, t0_s + span_s)`` seconds after 2024-01-01."""
    r = _rng(seed, stream)
    ts_us = np.sort((t0_s + r.uniform(0, span_s, n)) * 1e6).astype(np.int64)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": EPOCH_2024 + ts_us.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": _cents(r.uniform(0.01, 490.0, n)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }


def write_events(out_dir: str, seed: int, stream: str, n: int) -> dict:
    """The ``events`` table: ``n`` events over 30 days, one user per 66."""
    os.makedirs(out_dir, exist_ok=True)
    cols = event_columns(seed, stream, n, 0, 0.0, 30 * 86400.0, max(10, n // 66))
    return {"events": _write(out_dir, "events", cols, _rng(seed, f"{stream}-order"))}


def _salt_words(seed: int) -> list[str]:
    """Eight tokens unique to the seed, mixed into every corpus shard."""
    h = hashlib.md5(str(seed).encode()).hexdigest()
    return [f"s{h[i:i + 5]}" for i in range(0, 32, 4)]


def write_corpus(out_dir: str, seed: int, shard: int, n_docs: int, n_vecs: int) -> dict:
    """``documents`` and ``embeddings`` for one corpus shard.

    The duplicate structure is fixed, so every seed gives the dedup and
    cosine stages the same amount of work: the last 38% of the documents
    each copy a distinct seed-chosen original — the first 5% of the
    corpus length of them exactly up to case and whitespace, the rest
    with 5-25% of their tokens substituted — and the last 25% of the
    vectors are copies of distinct originals with 5% jitter.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, f"corpus-{shard}")
    vocab = np.array(WORDS + _salt_words(seed))
    n_orig = n_docs - int(0.38 * n_docs)
    n_exact = int(0.05 * n_docs)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(8, 90))]) for _ in range(n_orig)]
    for k, src in enumerate(r.permutation(n_orig)[: n_docs - n_orig]):
        if k < n_exact:
            texts.append(("  " + texts[src].upper()) if k % 2 else texts[src].replace(" ", "  "))
        else:
            toks = np.array(texts[src].split())
            flip = r.random(len(toks)) < 0.05 + 0.2 * (k % 5) / 4
            texts.append(" ".join(np.where(flip, vocab[r.integers(0, len(vocab), len(toks))], toks)))
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{k}" for k in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    n_vorig = n_vecs - n_vecs // 4
    vecs = r.normal(0.0, 0.1, (n_vecs, 64))
    src = r.permutation(n_vorig)[: n_vecs - n_vorig]
    vecs[n_vorig:] = vecs[src] * (1.0 + r.uniform(-0.05, 0.05, (len(src), 64)))
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return {
        "documents": _write(out_dir, "documents", docs, r),
        "embeddings": _write(out_dir, "embeddings", {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": emb,
            "label": r.integers(0, 10, n_vecs).astype(np.int32),
        }, r),
    }


def stream_wave(seed: int, wave: int, n: int, span_s: float = 1800.0) -> tuple[pa.Table, pa.Table]:
    """One wave of the event stream and the rows a correct pipeline keeps.

    Wave ``w`` carries ``n`` new events whose event times cover the
    ``span_s`` seconds after wave ``w - 1``, plus a seeded share of
    redeliveries (exact copies of this wave's rows) and, from the
    second wave on, late events stamped two hours behind the previous
    wave's latest event — past the pipeline's one-hour watermark, so
    they must be dropped.
    """
    r = _rng(seed, f"wave-{wave}")
    fresh = event_columns(seed, f"wave-{wave}-rows", n, wave * 10_000_000, wave * span_s, span_s, 150)
    table = pa.table(fresh)
    parts = [table, table.take(pa.array(r.choice(n, n // 20, replace=False)))]
    if wave:
        late = event_columns(seed, f"wave-{wave}-late", n // 50, wave * 10_000_000 + 5_000_000,
                             wave * span_s - 7200.0 - span_s, span_s / 2, 150)
        parts.append(pa.table(late))
    delivered = pa.concat_tables(parts)
    delivered = delivered.take(pa.array(r.permutation(delivered.num_rows)))
    return delivered, table
