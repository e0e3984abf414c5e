"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, sf)``: the same seed gives
byte-identical tables and the same change batches. The tables follow the
project's fixture tables (TPC-H-style star schema, an ``events`` stream,
a ``documents`` corpus with exact and near duplicates, and 64-dimensional
``embeddings``): the same columns, row counts (sf0.1: 150k orders, 600k
lineitems, 100k events), value ranges and draws, so the same queries
select the same shares of rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EMB_DIM = 64
EMB_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _names(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
    }
    r = _rng(seed, "customer")
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(r.choice(PART_ADJ, n_part), " "),
                              r.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10, 1),
    })
    orders = orders_table(seed, n_ord, n_cust)
    out["orders"] = orders
    # lineitem as the fixture draws it: four lines per order on average,
    # each line's order, line number, price and ship date drawn
    # independently (so some orders have no lines)
    r = _rng(seed, "lineitem")
    n_li = 4 * n_ord
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100,
        "l_tax": r.integers(0, 9, n_li) / 100,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _EPOCH_1995 + r.integers(1, 2500, n_li).astype("timedelta64[D]"),
    })
    r = _rng(seed, "events")
    n_ev = int(1_000_000 * sf)
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n_ev).astype(str)), "}"),
    })
    return out


def orders_table(seed: int, n: int, n_cust: int) -> pd.DataFrame:
    r = _rng(seed, "orders")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n),
        "o_orderstatus": r.choice(["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000, 500_000, n),
        "o_orderdate": _EPOCH_1995 + r.integers(0, 2405, n).astype("timedelta64[D]"),
        "o_orderpriority": r.choice(PRIORITIES, n),
    })


def llm_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    r = _rng(seed, "documents")
    lens = r.integers(10, 101, n_doc)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lens]
    # 5% near duplicates (an earlier document plus one token) and a few
    # exact copies, so both dedup tiers have real matches to find
    for i in r.choice(np.arange(n_doc // 10, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in r.choice(np.arange(n_doc // 10, n_doc), max(n_doc // 600, 2), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    r = _rng(seed, "embeddings")
    centers = r.standard_normal((EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, EMB_LABELS, n_emb)
    x = 0.5 * centers[labels] + r.standard_normal((n_emb, EMB_DIM)) / np.sqrt(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(x),
        "label": labels.astype(np.int32),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet file per table, naive µs timestamps (the fixture form
    ``sources.catalog.load_table`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- CDC change feed ---------------------------------------------------------

KEY = "o_orderkey"

# The change feed's shape. A batch is the reference's ingest batch, 1000
# events per lake commit (PHILOTES_CDC_BATCH_SIZE; BASELINE.md). The
# operation mix and the repeat share are measured on the project's CDC
# event stream, the sf0.1 ``events`` fixture read through the registry's
# event_type -> operation map (operators/cdc_queries.py): 40% INSERT, 40%
# UPDATE, 20% DELETE, and in each window of 1000 consecutive events 27%
# (25-30%) of the events touch a key the window already touched. Its keys
# are drawn uniformly, with no skew toward recent ones (per-key counts
# spread as a Poisson draw does around their mean), so UPDATE and DELETE
# pick among the live keys uniformly.
BATCH = 1000
OP_MIX = {"INSERT": 0.4, "UPDATE": 0.4, "DELETE": 0.2}
REPEAT_SHARE = 0.27


class KeySet:
    """Keys with O(1) add, remove and uniform pick."""

    def __init__(self, keys=()):
        self.keys: list[int] = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def add(self, key: int) -> None:
        if key not in self.pos:
            self.pos[key] = len(self.keys)
            self.keys.append(key)

    def drop(self, key: int) -> None:
        i = self.pos.pop(key, None)
        if i is None:
            return
        last = self.keys.pop()
        if last != key:
            self.keys[i], self.pos[last] = last, i

    def pick(self, rng: np.random.Generator) -> int:
        return self.keys[int(rng.integers(0, len(self.keys)))]


class ChangeFeed:
    """Seeded generator of CDC change batches against ``orders``, with the
    pandas model of the table state the batches should produce.

    An INSERT adds a new key. An UPDATE or DELETE changes a live key: one
    the batch already changed, so that ``REPEAT_SHARE`` of all changes
    repeat a key, or else one drawn uniformly from the table. Within a
    batch the newest change per key is the one that applies."""

    def __init__(self, seed: int, base: pd.DataFrame, batch: int = BATCH):
        self.rng = _rng(seed, "changes")
        self.batch = batch
        # the table carries the CDC columns: base rows as LSN-0 inserts
        base = base.assign(_cdc_lsn_int=np.int64(0), _cdc_operation="INSERT")
        self.state = base.set_index(KEY, drop=False)
        self.live = KeySet(int(k) for k in self.state.index)
        self.next_key = int(base[KEY].max()) + 1
        self.lsn = 0
        self.n_cust = int(base["o_custkey"].max()) + 1
        # inserts only ever add keys, so the repeats fall on the other ops
        self.repeat = REPEAT_SHARE / (1 - OP_MIX["INSERT"])

    def next_batch(self) -> pd.DataFrame:
        r = self.rng
        ops = r.choice(list(OP_MIX), self.batch, p=list(OP_MIX.values()))
        touched = KeySet()  # live keys this batch already changed
        rows = []
        batch_state: dict[int, dict | None] = {}
        for op in ops:
            if op == "INSERT":
                key = self.next_key
                self.next_key += 1
                self.live.add(key)
                row = self._new_row(key)
            else:
                if touched.keys and r.random() < self.repeat:
                    key = touched.pick(r)
                else:
                    key = self.live.pick(r)
                cur = batch_state.get(key)
                if cur is None:
                    cur = self.state.loc[key].to_dict()
                row = dict(cur)
                if op == "UPDATE":
                    row["o_totalprice"] = round(float(r.uniform(1000, 500_000)), 2)
                    row["o_orderstatus"] = str(r.choice(["F", "O", "P"]))
                else:
                    self.live.drop(key)
                    touched.drop(key)
            self.lsn += 1
            row = {**row, "_cdc_lsn_int": self.lsn, "_cdc_operation": op}
            rows.append(row)
            batch_state[key] = None if op == "DELETE" else row
            if op != "DELETE":
                touched.add(key)
        self._apply(batch_state)
        batch = pd.DataFrame(rows)
        return batch.astype({KEY: np.int64, "o_custkey": np.int64,
                             "o_orderdate": "datetime64[us]"})

    def _new_row(self, key: int) -> dict:
        r = self.rng
        return {
            KEY: key,
            "o_custkey": int(r.integers(0, self.n_cust)),
            "o_orderstatus": "O",
            "o_totalprice": round(float(r.uniform(1000, 500_000)), 2),
            "o_orderdate": _EPOCH_1995 + np.timedelta64(int(r.integers(2405, 2500)), "D"),
            "o_orderpriority": str(r.choice(PRIORITIES)),
        }

    def _apply(self, batch_state: dict) -> None:
        gone = [k for k, v in batch_state.items() if v is None and k in self.state.index]
        upserts = pd.DataFrame([v for v in batch_state.values() if v is not None])
        state = self.state.drop(index=gone)
        if len(upserts):
            upserts = upserts.astype(self.state.dtypes.to_dict()).set_index(KEY, drop=False)
            state = pd.concat([state.drop(index=upserts.index, errors="ignore"), upserts])
        self.state = state.sort_index()

    def expected(self) -> pd.DataFrame:
        return self.state.reset_index(drop=True)


def write_feed_file(batch: pd.DataFrame, feed_dir: str, seq: int) -> int:
    """Land one batch atomically: write a hidden staging file (the stream's
    file source skips dot-files), then rename it into place. Returns the
    landed file's size in bytes."""
    os.makedirs(feed_dir, exist_ok=True)
    tmp = os.path.join(feed_dir, f".staging-{seq:06d}.parquet")
    final = os.path.join(feed_dir, f"batch-{seq:06d}.parquet")
    pq.write_table(pa.Table.from_pandas(batch, preserve_index=False), tmp)
    os.rename(tmp, final)
    return os.path.getsize(final)
