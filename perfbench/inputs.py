"""Generated inputs for the benchmark.

Two kinds, both written as parquet:

- ``star``: the ten fixture tables (region ... embeddings) at a given
  scale factor, with the fixture's schemas and value domains: uniform keys and measures,
  TPC-H-like code columns, 30-word documents of which 5% are an earlier
  document plus a ``dup`` token, unit-norm 64-d embeddings. They are
  cached under ``perfbench/.cache`` and come from a fixed data seed, so
  the oracle results computed on them can be cached across runs; the run
  seed only orders the operations.
- ``batches``: the change stream of the ``incremental_load`` workload,
  derived from the run seed and written into the run's work directory.
  Batch ``b`` re-sends about 5% of the order keys present before it with
  new values, adds about 5% new order keys, and carries the new orders'
  line items plus a few already-loaded line items that INSERT-IGNORE
  semantics must drop. Keys are unique within a batch, so last-wins and
  first-wins give one deterministic answer.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when generation changes, so stale cached inputs are rebuilt.
INPUT_VERSION = 1
DATA_SEED = 42
#: Scale factor of the tables the change batches are drawn against.
BATCH_SF = 0.1
BATCH_SHARE = 0.05
RESENT_LINES = 1500

_BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
_LANGS = ["en", "es", "de", "fr", "zh"]
_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2405
_SHIP_DAY0 = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2499
_DAY_US = 86_400_000_000

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def _n(table: str, sf: float = BATCH_SF) -> int:
    return round(_BASE_ROWS[table] * sf)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, day0: np.datetime64, n_days: int, n: int) -> pa.Array:
    us = day0.astype(np.int64) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _orders(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(rng, _ORDER_DAY0, _ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _lineitem(rng: np.random.Generator, orderkeys: np.ndarray, linenumbers: np.ndarray,
              n_part: int, n_supp: int) -> pa.Table:
    n = len(orderkeys)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _SHIP_DAY0, _SHIP_DAYS, n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
            originals.append(i)
    ids = np.arange(n, dtype=np.int64)
    langs = np.asarray(_LANGS, dtype=object)[
        rng.choice(len(_LANGS), n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    ]
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps_us = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + np.cumsum(gaps_us), pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _star_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_cust, n_supp, n_part = (_n(t, sf) for t in ("customer", "supplier", "part"))
    n_orders, n_lines = _n("orders", sf), _n("lineitem", sf)
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": pa.array([f"NATION_{i}" for i in nation_keys], pa.string()),
            "n_regionkey": pa.array(nation_keys % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
        }),
        "orders": _orders(rng, np.arange(n_orders, dtype=np.int64), n_cust),
        "lineitem": _lineitem(
            rng, rng.integers(0, n_orders, n_lines), rng.integers(1, 8, n_lines), n_part, n_supp
        ),
    }
    tables["events"] = _events(rng, _n("events", sf))
    tables["documents"] = _documents(rng, _n("documents", sf))
    tables["embeddings"] = _embeddings(rng, _n("embeddings", sf))
    return tables


def _publish(final: str, write) -> str:
    """Write into a temp sibling and rename, so an interrupted run never
    leaves a half-written directory that looks complete."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    try:
        os.replace(tmp, final)
    except OSError:  # another run published it first
        shutil.rmtree(tmp)
    return final


def ensure_star(sf: float) -> str:
    """Directory of the ten star tables at ``sf``, generated on first use."""
    def write(out: str) -> None:
        for name, table in _star_tables(sf).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    return _publish(os.path.join(CACHE_DIR, f"star-v{INPUT_VERSION}-sf{sf}"), write)


def base_line_keys(star_dir: str) -> np.ndarray:
    """Distinct (l_orderkey, l_linenumber) pairs of the base line items;
    batches re-send some of them, and appends never remove any."""
    base = pq.read_table(
        os.path.join(star_dir, "lineitem.parquet"), columns=["l_orderkey", "l_linenumber"]
    )
    return np.unique(np.stack(
        [base["l_orderkey"].to_numpy(), base["l_linenumber"].to_numpy()], axis=1
    ), axis=0)


def write_batch(line_keys: np.ndarray, seed: int, b: int, out_dir: str) -> tuple[str, str]:
    """Write change batch ``b`` of the stream for ``seed`` into ``out_dir``
    and return its (orders, lineitem) parquet paths."""
    rng = np.random.Generator(np.random.PCG64([seed, b]))
    n_base = _n("orders")
    step = round(n_base * BATCH_SHARE)
    n_existing = n_base + b * step
    updated = rng.choice(n_existing, step, replace=False)
    new = np.arange(n_existing, n_existing + step)
    orders_path, lineitem_path = (
        os.path.join(out_dir, f"b{b:03d}_{t}.parquet") for t in ("orders", "lineitem")
    )
    pq.write_table(
        _orders(rng, np.concatenate([updated, new]).astype(np.int64), _n("customer")), orders_path
    )
    lines_per_order = rng.integers(1, 8, step)
    new_lnums = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    resent = line_keys[rng.choice(len(line_keys), RESENT_LINES, replace=False)]
    pq.write_table(
        _lineitem(
            rng,
            np.concatenate([np.repeat(new, lines_per_order), resent[:, 0]]),
            np.concatenate([new_lnums, resent[:, 1]]),
            _n("part"), _n("supplier"),
        ),
        lineitem_path,
    )
    return orders_path, lineitem_path
