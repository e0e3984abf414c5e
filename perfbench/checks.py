"""Output checks, run outside the timed region. Query results compare with
the oracle exactly as the repository's oracle tests do
(``tests.oracle.canonical_rows``).

Every operation the benchmark times is recorded in a :class:`Ledger`
with its result; a check that fails (or an operation that raised) counts
one failure. ``failed_frac`` is failures over operations attempted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.oracle import _norm_cell

# recall floors asserted by the repository's recall tests for the same
# index settings (tests/test_similarity_recall.py): IVF probing 4 of 16
# cells, and IVF-PQ probing 4 of 16 cells with an exact re-rank of 50
RECALL_FLOORS = {"sim_ivf_topk": 0.40, "sim_ivfpq_topk": 0.40}
# MinHash-LSH floors from tests/test_minhash_quality.py: recall of the
# strong exact pairs (Jaccard >= 0.6), and estimate error on shared pairs
MINHASH_RECALL = 0.9
MINHASH_MAX_ERR = 0.2


class Ledger:
    """Counts operations attempted and failed, keeping one message per
    failure kind for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: dict[str, str] = {}

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.messages.setdefault(name, error)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _cells(col: pd.Series) -> list:
    """One result column as the oracle's rows carry it: nulls (NaN/NaT
    after the Arrow transfer) become None and array cells become lists."""
    col = col.astype(object)
    col = col.where(col.notna(), None)
    if any(isinstance(v, np.ndarray) for v in col.head(1)):
        col = col.map(lambda v: v.tolist() if isinstance(v, np.ndarray) else v)
    return col.tolist()


def _canonical_column(col: pd.Series) -> list[str]:
    """``_norm_cell`` of every cell of ``_cells(col)``. Float, integer and
    timestamp columns take a direct path that gives the same strings
    faster."""
    if not isinstance(col.dtype, np.dtype):  # pandas extension types
        return [_norm_cell(v) for v in _cells(col)]
    if col.dtype.kind == "f":
        null = _norm_cell(None)
        return [null if v != v else f"{v:.6g}" for v in col.tolist()]
    if col.dtype.kind in "iu":
        return [str(v) for v in col.tolist()]
    if col.dtype.kind == "M":  # timezone-naive timestamps
        null = _norm_cell(None)
        text = np.datetime_as_string(col.to_numpy().astype("datetime64[us]"), unit="us")
        return [null if t == "NaT" else t.replace("T", " ", 1) for t in text.tolist()]
    return [_norm_cell(v) for v in _cells(col)]


def canonical(df: pd.DataFrame) -> list[tuple]:
    """The frame's rows in the oracle tests' comparison form
    (``tests.oracle.canonical_rows``): columns in name order, cells
    normalized (floats to 6 significant digits), rows sorted."""
    names = sorted(df.columns, key=lambda c: c.lower())
    return sorted(zip(*(_canonical_column(df[c]) for c in names)))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches the oracle result ``want``, else why not."""
    g_cols = sorted(c.lower() for c in got.columns)
    w_cols = sorted(c.lower() for c in want.columns)
    if g_cols != w_cols:
        return f"columns differ: {g_cols} vs {w_cols}"
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    if not len(got):
        return "empty result on both sides"
    got_c, want_c = canonical(got), canonical(want)
    if got_c != want_c:
        first = next(i for i, (a, b) in enumerate(zip(got_c, want_c)) if a != b)
        return f"value mismatch: {got_c[first]} vs oracle {want_c[first]}"
    return None


def neighbors(df: pd.DataFrame) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for q, n in zip(df["query_id"], df["neighbor_id"]):
        out.setdefault(int(q), set()).add(int(n))
    return out


def recall(approx: pd.DataFrame, exact: pd.DataFrame) -> float:
    want, got = neighbors(exact), neighbors(approx)
    hits = sum(len(got.get(q, set()) & w) for q, w in want.items())
    return hits / max(sum(len(w) for w in want.values()), 1)


def check_recall(name: str, approx: pd.DataFrame, exact: pd.DataFrame) -> str | None:
    r = recall(approx, exact)
    floor = RECALL_FLOORS[name]
    return None if r >= floor else f"recall {r:.3f} below floor {floor}"


def check_minhash(pairs: pd.DataFrame, exact: pd.DataFrame) -> str | None:
    """``exact``: exact word-3-gram Jaccard pairs (doc_a, doc_b, jaccard)."""
    strong = {
        (int(a), int(b))
        for a, b, j in zip(exact["doc_a"], exact["doc_b"], exact["jaccard"])
        if j >= 0.6
    }
    if not strong:
        return "no strong near-duplicate pairs in the exact answer"
    est = {
        (int(a), int(b)): float(e)
        for a, b, e in zip(pairs["doc_a"], pairs["doc_b"], pairs["est_jaccard"])
    }
    found = len(strong & set(est)) / len(strong)
    if found < MINHASH_RECALL:
        return f"LSH recall {found:.3f} of {len(strong)} strong pairs below {MINHASH_RECALL}"
    jac = {
        (int(a), int(b)): float(j)
        for a, b, j in zip(exact["doc_a"], exact["doc_b"], exact["jaccard"])
    }
    worst = max((abs(est[p] - jac[p]) for p in set(est) & set(jac)), default=0.0)
    if worst >= MINHASH_MAX_ERR:
        return f"estimated Jaccard off by {worst:.3f}"
    return None


def table_aggregates(df: pd.DataFrame) -> tuple[int, int, int, int]:
    """What the per-batch latest-state read computes: row count, key sum,
    customer-key sum and the price sum in whole cents (exact integers, so
    summation order cannot change them)."""
    cents = np.round(df["o_totalprice"].to_numpy() * 100).astype(np.int64)
    return (len(df), int(df["o_orderkey"].sum()), int(df["o_custkey"].sum()),
            int(cents.sum()))


def compare_tables(got: pd.DataFrame, want: pd.DataFrame, key: str) -> str | None:
    """Row identity of the final table against the model."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns differ: {sorted(got.columns)} vs {cols}"
    g = got[cols].sort_values(key).reset_index(drop=True)
    w = want[cols].sort_values(key).reset_index(drop=True)
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(w[c]):
            g[c] = pd.to_datetime(g[c]).astype("datetime64[us]")
            w[c] = w[c].astype("datetime64[us]")
    if len(g) != len(w):
        return f"{len(g)} rows, model has {len(w)}"
    diff = ~(g == w).all(axis=1)
    if diff.any():
        i = int(np.argmax(diff.to_numpy()))
        return f"row {g.iloc[i].to_dict()} differs from model {w.iloc[i].to_dict()}"
    return None
