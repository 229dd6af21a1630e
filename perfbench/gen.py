"""Seeded input generator for the benchmark workloads.

Everything here is NumPy + pyarrow, with no Spark, so inputs exist before
the timed region starts. The same seed gives byte-identical files; another
seed gives other files. Callers pass a directory per (input, seed); a
directory already complete is reused.

* ``fixture_tables``: the ten fixture tables with the schemas and marginal
  distributions of the repo's sf0.1 fixtures (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``). A scale above 1 makes
  key-shifted replicas: replica ``r`` shifts every key by ``r * 10_000_000``
  across all foreign keys, and names carry a per-replica 3-letter code
  (pairwise three edits apart) so cross-replica names never fuzzy-match.
* ``cdc_batch`` / ``customer_landing``: the ELT workload's changefeed
  batches (Zipf-skewed keys) and its CSV landing slices.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KEY_OFF = 10_000_000

# Row counts of the sf0.1 fixtures; sizes below are multiples of these.
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

_EPOCH = _dt.datetime(1970, 1, 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _days_us(start: _dt.datetime, days: np.ndarray) -> np.ndarray:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + days.astype(np.int64) * 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _replica_codes(mult: int) -> list[str]:
    return ["" if r == 0 else chr(ord("a") + r - 1) * 3 for r in range(mult)]


def _base_tables(seed: int, frac: float) -> dict[str, dict[str, np.ndarray | list]]:
    """Replica 0 of every keyed table at ``frac`` × sf0.1, as column dicts."""
    n = {t: max(1, round(v * frac)) for t, v in BASE_ROWS.items()}
    out: dict[str, dict] = {}

    r = _rng(seed, 1)
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = {
        "c_custkey": k,
        "c_nationkey": r.integers(0, 25, k.size, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k.size),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k.size)],
    }

    r = _rng(seed, 2)
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = {
        "s_suppkey": k,
        "s_nationkey": r.integers(0, 25, k.size, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k.size),
    }

    r = _rng(seed, 3)
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = {
        "p_partkey": k,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[r.integers(0, 8, k.size)], " "),
            np.array(PART_NOUN)[r.integers(0, 8, k.size)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k.size).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k.size)],
        "p_size": r.integers(1, 51, k.size, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2),
    }

    r = _rng(seed, 4)
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = {
        "o_orderkey": k,
        "o_custkey": r.integers(0, n["customer"], k.size, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k.size)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k.size),
        "o_orderdate": _days_us(_dt.datetime(1995, 1, 1), r.integers(0, 2404, k.size)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k.size)],
    }

    r = _rng(seed, 5)
    m = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": r.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, m, dtype=np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
        "l_shipdate": _days_us(_dt.datetime(1995, 1, 2), r.integers(0, 2499, m)),
    }

    r = _rng(seed, 6)
    m = n["events"]
    span_us = 30 * 86_400_000_000
    offs = np.sort(r.integers(0, span_us, m))
    out["events"] = {
        "event_id": np.arange(m, dtype=np.int64),
        "ts": _days_us(_dt.datetime(2024, 1, 1), np.zeros(m)) + offs,
        "user_id": r.integers(0, max(1, round(1500 * frac)), m, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, m)],
        "value": np.minimum(np.round(r.exponential(50.0, m), 2), 560.21),
        "props": np.char.add(
            np.char.add('{"k": ', r.integers(0, 100, m).astype(str)), "}"
        ),
    }
    return out


def _docs(rng: np.random.Generator, n: int) -> dict:
    """``n`` documents over the fixed vocabulary; about 5% are another
    document's text plus ``" dup"`` (the fixtures' duplicate shape)."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    src = rng.integers(0, n, dup.size)
    for i, j in zip(dup, src):
        if i != j:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _vectors(rng: np.random.Generator, n: int) -> pa.Table:
    emb = rng.normal(0.0, 0.125, (n, EMB_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def _docs_table(d: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(d["doc_id"]),
            "text": pa.array(d["text"], type=pa.string()),
            "lang": pa.array(d["lang"].tolist(), type=pa.string()),
            "source": pa.array(d["source"].tolist(), type=pa.string()),
            "n_chars": pa.array(d["n_chars"]),
        }
    )


def _replicate(cols: dict, mult: int, shift: tuple[str, ...], names: dict) -> dict:
    """Key-shifted replicas 0..mult-1 of one table's columns; ``names``
    maps a name column to its (prefix, key column) and is derived from the
    unshifted key plus the replica code."""
    codes = _replica_codes(mult)
    out: dict[str, list] = {c: [] for c in [*cols, *names]}
    for r in range(mult):
        for c, v in cols.items():
            out[c].append(v + r * KEY_OFF if c in shift else v)
        for c, (prefix, key) in names.items():
            out[c].append(
                np.char.add(prefix + codes[r], np.char.zfill(cols[key].astype(str), 9))
            )
    return {c: np.concatenate(v) for c, v in out.items()}


_SHIFT = {
    "customer": (("c_custkey",), {"c_name": ("Customer#", "c_custkey")}),
    "supplier": (("s_suppkey",), {"s_name": ("Supplier#", "s_suppkey")}),
    "part": (("p_partkey",), {}),
    "orders": (("o_orderkey", "o_custkey"), {}),
    "lineitem": (("l_orderkey", "l_partkey", "l_suppkey"), {}),
    "events": (("event_id", "user_id"), {}),
}
_TS_COLS = {"o_orderdate", "l_shipdate", "ts"}
_INT32 = {"c_nationkey", "s_nationkey", "p_size", "l_linenumber"}
_ORDER = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}


def _arrow(cols: dict, order: list[str] | None = None) -> pa.Table:
    arrays = {}
    for c in order or list(cols):
        v = cols[c]
        if c in _TS_COLS:
            arrays[c] = _ts(v)
        elif c in _INT32:
            arrays[c] = pa.array(v.astype(np.int32))
        elif v.dtype.kind == "U":
            arrays[c] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def fixture_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten fixture tables (``<table>.parquet``) for ``seed`` at
    ``scale`` × sf0.1 into ``out_dir``; returns row counts. Below 1 the
    tables shrink; above 1 the keyed tables are ``round(scale)`` key-shifted
    replicas (documents and embeddings stay at one copy). Cached: a
    complete ``out_dir`` (marked by ``_DONE``) is reused as is."""
    frac = min(scale, 1.0)
    mult = max(1, round(scale))
    n = {t: max(1, round(v * frac)) for t, v in BASE_ROWS.items()}
    counts = {"region": 5, "nation": 25}
    counts.update({t: n[t] * mult for t in _SHIFT})
    counts.update(documents=n["documents"], embeddings=n["embeddings"])
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return counts
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        os.path.join(out_dir, "region.parquet"),
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(nk),
                "n_name": pa.array([f"NATION_{i}" for i in nk]),
                "n_regionkey": pa.array(nk % 5),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    base = _base_tables(seed, frac)
    for t, (shift, names) in _SHIFT.items():
        rep = _replicate(base[t], mult, shift, names)
        _write(_arrow(rep, _ORDER.get(t)), os.path.join(out_dir, f"{t}.parquet"))
    _write(
        _docs_table(_docs(_rng(seed, 7), n["documents"])),
        os.path.join(out_dir, "documents.parquet"),
    )
    _write(_vectors(_rng(seed, 8), n["embeddings"]), os.path.join(out_dir, "embeddings.parquet"))
    open(done, "w").close()
    return counts


CDC_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
        ("seq", pa.int64()),
        ("op", pa.string()),
    ]
)


def cdc_batch(seed: int, cycle: int, rows: int, n_keys: int) -> pa.Table:
    """Changefeed batch ``cycle``: ``rows`` changes over Zipf(1.2)-skewed
    customer keys in [0, n_keys), 10% deletes. ``seq`` is globally
    increasing across cycles, so last-seq-wins is well defined."""
    rng = _rng(seed, 200, cycle)
    keys = (rng.zipf(1.2, rows * 2) - 1)
    keys = keys[keys < n_keys][:rows]
    while keys.size < rows:
        more = rng.zipf(1.2, rows) - 1
        keys = np.concatenate([keys, more[more < n_keys]])[:rows]
    # Scatter the Zipf ranks over the key space so hot keys are not all
    # the smallest ids.
    keys = (keys.astype(np.int64) * 7919) % n_keys
    return pa.table(
        {
            "c_custkey": pa.array(keys.astype(np.int64)),
            "c_acctbal": pa.array(_money(rng, 1.0, 9999.99, rows)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, 5, rows)].tolist(), type=pa.string()
            ),
            "seq": pa.array(cycle * rows + np.arange(rows, dtype=np.int64)),
            "op": pa.array(np.where(rng.random(rows) < 0.1, "D", "U").tolist()),
        },
        schema=CDC_SCHEMA,
    )


def customer_landing(out_dir: str, seed: int, cycle: int, rows: int) -> tuple[str, str]:
    """CSV landing slice for cycle ``cycle``: ``customer_csv/`` (``rows``
    customers, keys offset by the cycle so slices differ) and
    ``nation_csv/``. Returns the two directories."""
    cust_dir = os.path.join(out_dir, "customer_csv")
    nat_dir = os.path.join(out_dir, "nation_csv")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return cust_dir, nat_dir
    rng = _rng(seed, 300, cycle)
    os.makedirs(cust_dir, exist_ok=True)
    os.makedirs(nat_dir, exist_ok=True)
    k = cycle * rows + np.arange(rows, dtype=np.int64)
    cust = pa.table(
        {
            "c_custkey": pa.array(k),
            "c_name": pa.array([f"Customer#{x:09d}" for x in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, rows, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, 5, rows)].tolist(), type=pa.string()
            ),
        }
    )
    pacsv.write_csv(cust, os.path.join(cust_dir, "part-0.csv"))
    nk = np.arange(25, dtype=np.int32)
    pacsv.write_csv(
        pa.table(
            {
                "n_nationkey": pa.array(nk),
                "n_name": pa.array([f"NATION_{i}" for i in nk]),
                "n_regionkey": pa.array(nk % 5),
            }
        ),
        os.path.join(nat_dir, "part-0.csv"),
    )
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return cust_dir, nat_dir
