"""Seeded input generators for the pipeline benchmark.

Every table a workload reads is made here from the run's seed, with
numpy and written with pyarrow, so the seed is the only input that
varies between runs. The shapes follow the repository's test tables
(TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). Larger inputs are made the way ``bench.py`` builds its
x10 point: a base table replicated R times, with keys shifted by a
stride per replica, document words prefixed per replica and embeddings
rotated per replica, so join and dedup candidate sets grow linearly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRIDE = 10_000_000
ROW_GROUP = 32_768

_NATIONS = 25
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["cold", "small", "large", "shiny", "green", "rusty"]
_PART_NOUN = ["widget", "bolt", "gear", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column a big vector index shard plan stage task file cache "
    "node graph token text doc page word rank score model train test"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _shift(keys: np.ndarray, replicas: int) -> np.ndarray:
    """Tile ``keys`` ``replicas`` times, shifting replica i by i*STRIDE."""
    return np.concatenate([keys + i * STRIDE for i in range(replicas)])


def star_schema(out: str, seed: int, sf: float, replicas: int = 1) -> dict[str, int]:
    """TPC-H-like star schema at scale ``sf`` (lineitem ~ 6M*sf rows),
    replicated ``replicas`` times with shifted keys. Returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_ord = max(int(1_500_000 * sf), 10)
    R = replicas

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(_NATIONS)],
        "n_regionkey": pa.array(np.arange(_NATIONS) % 5, pa.int32()),
    })

    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": _shift(ck, R),
        "c_name": [f"Customer#{k:09d}" for k in _shift(ck, R)],
        "c_nationkey": pa.array(np.tile(rng.integers(0, _NATIONS, n_cust), R), pa.int32()),
        "c_acctbal": np.tile(_money(rng, -999, 9999, n_cust), R),
        "c_mktsegment": np.tile(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)], R),
    })

    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900 + (pk % 1000) * 0.1 + rng.uniform(0, 100, n_part), 2)
    names = np.char.add(
        np.char.add(np.array(_PART_ADJ)[rng.integers(0, 6, n_part)], " "),
        np.array(_PART_NOUN)[rng.integers(0, 5, n_part)],
    )
    part = pa.table({
        "p_partkey": _shift(pk, R),
        "p_name": np.tile(names, R),
        "p_brand": np.tile(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), R),
        "p_type": np.tile(np.array(_PART_TYPES)[rng.integers(0, 5, n_part)], R),
        "p_size": pa.array(np.tile(rng.integers(1, 51, n_part), R), pa.int32()),
        "p_retailprice": np.tile(retail, R),
    })

    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": _shift(sk, R),
        "s_name": [f"Supplier#{k:09d}" for k in _shift(sk, R)],
        "s_nationkey": pa.array(np.tile(rng.integers(0, _NATIONS, n_supp), R), pa.int32()),
        "s_acctbal": np.tile(_money(rng, -999, 9999, n_supp), R),
    })

    ok = np.arange(n_ord, dtype=np.int64)
    o_cust = rng.integers(0, n_cust, n_ord)
    o_date = _EPOCH_1992 + rng.integers(0, 2400, n_ord) * _DAY_US
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    starts = np.cumsum(lines) - lines
    l_num = np.arange(n_li) - np.repeat(starts, lines) + 1
    l_part = rng.integers(0, n_part, n_li)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_price = np.round(l_qty * retail[l_part], 2)
    l_disc = rng.integers(0, 11, n_li) / 100.0
    l_tax = rng.integers(0, 9, n_li) / 100.0
    l_ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * _DAY_US
    late = l_ship > _EPOCH_1992 + 1200 * _DAY_US
    totals = np.round(np.bincount(l_ord, weights=l_price, minlength=n_ord), 2)
    status = np.where(
        np.bincount(l_ord, weights=late, minlength=n_ord) == 0, "F",
        np.where(np.bincount(l_ord, weights=~late, minlength=n_ord) == 0, "O", "P"),
    )
    orders = pa.table({
        "o_orderkey": _shift(ok, R),
        "o_custkey": _shift(o_cust, R),
        "o_orderstatus": np.tile(status, R),
        "o_totalprice": np.tile(totals, R),
        "o_orderdate": _ts(np.tile(o_date, R)),
        "o_orderpriority": np.tile(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)], R),
    })
    lineitem = pa.table({
        "l_orderkey": _shift(l_ord, R),
        "l_partkey": _shift(l_part, R),
        "l_suppkey": _shift(rng.integers(0, n_supp, n_li), R),
        "l_linenumber": pa.array(np.tile(l_num, R), pa.int32()),
        "l_quantity": np.tile(l_qty, R),
        "l_extendedprice": np.tile(l_price, R),
        "l_discount": np.tile(l_disc, R),
        "l_tax": np.tile(l_tax, R),
        "l_returnflag": np.tile(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], R),
        "l_linestatus": np.tile(np.where(late, "O", "F"), R),
        "l_shipdate": _ts(np.tile(l_ship, R)),
    })
    tables = {
        "region": region, "nation": nation, "customer": customer, "part": part,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _doc_words(rng: np.random.Generator, n: int) -> list[list[str]]:
    """Base documents with planted exact and near duplicates: about 5%
    copy an earlier document verbatim and 15% copy one with a single
    word replaced, so dedup stages have real work to find."""
    vocab = np.array(_WORDS)
    docs: list[list[str]] = []
    lengths = rng.integers(6, 95, n)
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.20:
            src = list(docs[int(rng.integers(0, i))])
            if kinds[i] >= 0.05 and src:
                src[int(rng.integers(0, len(src)))] = str(vocab[rng.integers(0, len(vocab))])
            docs.append(src)
        else:
            docs.append(list(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return docs


def documents(path: str, seed: int, n_base: int, replicas: int = 1) -> int:
    rng = np.random.default_rng([seed, 2])
    base = _doc_words(rng, n_base)
    lang = np.array(_LANGS)[rng.choice(5, n_base, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    source = [f"src{i % 20}" for i in range(n_base)]
    ids, texts, langs, sources = [], [], [], []
    for r in range(replicas):
        for i, words in enumerate(base):
            ids.append(i + r * STRIDE)
            texts.append(" ".join(words if r == 0 else (f"r{r}_{w}" for w in words)))
            langs.append(lang[i])
            sources.append(source[i])
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, path)
    return table.num_rows


def embeddings(path: str, seed: int, n_base: int, replicas: int = 1, dim: int = 64) -> int:
    """Clustered unit-ish vectors (10 labels) with a few near copies;
    replica i rotates every vector by i positions and shifts ids and
    labels, as ``bench.py`` does."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_base)
    base = (centers[label] + rng.normal(0, 0.6, (n_base, dim))).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = np.concatenate([np.roll(base, -r, axis=1) for r in range(replicas)])
    table = pa.table({
        "vec_id": _shift(np.arange(n_base, dtype=np.int64), replicas),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(
            np.concatenate([label + r * STRIDE for r in range(replicas)]), pa.int32()
        ),
    })
    _write(table, path)
    return table.num_rows


def events(path: str, seed: int, n: int, users: int = 15) -> int:
    rng = np.random.default_rng([seed, 4])
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    table = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 1, 200, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(table, path)
    return table.num_rows
