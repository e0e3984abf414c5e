"""The benchmark's own tests: the percentile rule, failure counting and
generator determinism. No Spark session is started.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import checks
import datagen
import stats
from workloads import QueryWorkload


# --- the percentile rule ------------------------------------------------------


@pytest.mark.parametrize("n, p", [(100, 90), (200, 90), (50, 80), (40, 75),
                                  (20, 50), (15, 33), (11, 9), (10, None), (3, None)])
def test_tail_percentile_values(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 400):
        p = stats.tail_percentile(n)
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= 10, (n, p)
        if p < 90:  # one percentile higher leaves fewer than ten beyond
            assert n - math.ceil((p + 1) * n / 100) < 10, (n, p)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile(list(range(20)), 50) == 9


# --- failures counted -------------------------------------------------------


class _Registry:
    ORACLES = {"count_by_kind": "SELECT kind, COUNT(*) AS n FROM things GROUP BY kind"}


def test_failed_frac_counts_an_injected_wrong_result(tmp_path):
    sf_dir = str(tmp_path)
    things = pd.DataFrame({"kind": ["a", "a", "b"], "x": [1.0, 2.0, 3.0]})
    datagen.write_tables({"things": things}, sf_dir)
    ledger = checks.Ledger()
    wl = QueryWorkload(None, _Registry, ["count_by_kind"], sf_dir, 0, None, ledger)
    right = pd.DataFrame({"kind": ["a", "b"], "n": [2, 1]})
    wrong = pd.DataFrame({"kind": ["a", "b"], "n": [2, 2]})  # injected
    wl.results = [("count_by_kind", right, None),
                  ("count_by_kind", right.iloc[::-1], None),  # order-insensitive
                  ("count_by_kind", wrong, None),
                  ("count_by_kind", None, "RuntimeError: boom")]
    wl.check()
    assert (ledger.attempted, ledger.failed) == (4, 2)
    assert ledger.failed_frac == 0.5
    assert "count_by_kind" in ledger.messages


def test_compare_tolerates_float_noise_but_not_wrong_values():
    want = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.5]})
    assert checks.compare(pd.DataFrame({"K": [2, 1], "v": [1.5, 0.3]}), want) is None
    assert checks.compare(pd.DataFrame({"k": [1, 2], "v": [0.3, 1.6]}), want)
    assert checks.compare(pd.DataFrame({"k": [1], "v": [0.3]}), want)
    assert checks.compare(want.iloc[:0], want.iloc[:0]), "empty results prove nothing"


def test_compare_reads_arrow_nulls_as_sql_nulls():
    # toPandas turns SQL NULL into NaN/NaT; the oracle's rows carry None
    got = pd.DataFrame({"k": [1, 2], "v": [np.nan, 1.5],
                        "t": pd.to_datetime([None, "2024-01-01"])})
    want = pd.DataFrame.from_records(
        [(1, None, None), (2, 1.5, pd.Timestamp("2024-01-01").to_pydatetime())],
        columns=["k", "v", "t"])
    assert checks.compare(got, want) is None


def test_recall_and_minhash_floors():
    exact = pd.DataFrame({"query_id": [0] * 10, "neighbor_id": range(10)})
    half = pd.DataFrame({"query_id": [0] * 10, "neighbor_id": range(5, 15)})
    assert checks.recall(half, exact) == 0.5
    assert checks.check_recall("sim_ivf_topk", half, exact) is None
    assert checks.check_recall("sim_ivf_topk", exact.iloc[:3], exact)
    pairs = pd.DataFrame({"doc_a": [1, 3], "doc_b": [2, 4], "jaccard": [0.9, 0.7]})
    found = pd.DataFrame({"doc_a": [1, 3], "doc_b": [2, 4], "est_jaccard": [0.88, 0.72]})
    assert checks.check_minhash(found, pairs) is None
    assert checks.check_minhash(found.iloc[:1], pairs), "missed a strong pair"
    off = found.assign(est_jaccard=[0.5, 0.72])
    assert checks.check_minhash(off, pairs), "estimate far from exact"


def test_canonical_matches_the_oracle_tests_form():
    """The column-at-a-time canonical form equals ``canonical_rows`` over
    the rows with nulls as None and arrays as lists."""
    from tests.oracle import canonical_rows

    df = pd.DataFrame({
        "B": [1.5, np.nan, 1 / 3, 2e-9],
        "a": np.array([3, 1, 2, 10**12], dtype=np.int64),
        "s": ["x", None, "z", "y"],
        "t": pd.to_datetime([
            "2024-01-01 00:00:01.5", None, "1995-03-02", "2001-01-01 00:00:00.123456789",
        ], format="mixed"),
        "v": [np.array([0.5, 1.0]), np.array([2.0]), np.array([]), np.array([1 / 7])],
        "k": pd.array([1, None, 3, 4], dtype="Int64"),
    })
    rows = [
        tuple(None if (not isinstance(v, np.ndarray) and pd.isna(v)) else
              (v.tolist() if isinstance(v, np.ndarray) else v) for v in r)
        for r in df.astype(object).itertuples(index=False, name=None)
    ]
    assert checks.canonical(df) == canonical_rows([c.lower() for c in df.columns], rows)


def test_final_table_check_catches_one_changed_cell():
    feed = datagen.ChangeFeed(1, datagen.orders_table(1, 500, 50), 30)
    feed.next_batch()
    want = feed.expected()
    assert checks.compare_tables(want.sample(frac=1, random_state=0), want, datagen.KEY) is None
    bad = want.copy()
    bad.loc[7, "o_totalprice"] += 0.01
    assert checks.compare_tables(bad, want, datagen.KEY)
    assert checks.compare_tables(want.iloc[1:], want, datagen.KEY)


# --- generator determinism ------------------------------------------------------


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        a[k].astype(str).equals(b[k].astype(str)) for k in a
    )


def test_tables_are_a_function_of_the_seed():
    assert _frames_equal(datagen.tpch_tables(7, 0.001), datagen.tpch_tables(7, 0.001))
    assert _frames_equal(datagen.llm_tables(7, 0.001), datagen.llm_tables(7, 0.001))
    assert not _frames_equal(datagen.tpch_tables(7, 0.001), datagen.tpch_tables(8, 0.001))
    assert not _frames_equal(datagen.llm_tables(7, 0.001), datagen.llm_tables(8, 0.001))


def test_written_files_are_identical_for_one_seed(tmp_path):
    for run in ("a", "b"):
        datagen.write_tables(datagen.llm_tables(3, 0.001), str(tmp_path / run))
    for name in ("documents.parquet", "embeddings.parquet"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def _batches(seed: int, n: int) -> tuple[list[pd.DataFrame], pd.DataFrame]:
    feed = datagen.ChangeFeed(seed, datagen.orders_table(seed, 2000, 100), 100)
    return [feed.next_batch() for _ in range(n)], feed.expected()


def test_change_feed_is_a_function_of_the_seed():
    a, state_a = _batches(5, 4)
    b, state_b = _batches(5, 4)
    assert all(x.equals(y) for x, y in zip(a, b)) and state_a.equals(state_b)
    c, _ = _batches(6, 4)
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_change_feed_model_matches_replayed_batches():
    """The model equals the base table with each batch's newest change per
    key applied: deletes drop the key, inserts and updates upsert it."""
    base = datagen.orders_table(2, 2000, 100)
    feed = datagen.ChangeFeed(2, base, 100)
    state = {
        r[datagen.KEY]: r
        for r in base.assign(_cdc_lsn_int=0, _cdc_operation="INSERT").to_dict("records")
    }
    ops = set()
    repeated = 0
    for _ in range(5):
        batch = feed.next_batch()
        ops |= set(batch["_cdc_operation"])
        repeated += int(batch[datagen.KEY].duplicated().sum())
        inserted = set(batch.loc[batch["_cdc_operation"] == "INSERT", datagen.KEY])
        assert not inserted & state.keys(), "insert of a live key"
        latest = batch.sort_values("_cdc_lsn_int").groupby(datagen.KEY).tail(1)
        for r in latest.to_dict("records"):
            if r["_cdc_operation"] == "DELETE":
                # a key inserted and deleted within one batch never lands
                assert r[datagen.KEY] in state.keys() | inserted, "delete of a missing key"
                state.pop(r[datagen.KEY], None)
            else:
                state[r[datagen.KEY]] = r
    want = pd.DataFrame(list(state.values())).sort_values(datagen.KEY)
    assert checks.compare_tables(feed.expected(), want, datagen.KEY) is None
    assert ops == {"INSERT", "UPDATE", "DELETE"}
    assert repeated > 0, "batches should touch some keys more than once"
    assert np.all(np.diff(feed.expected()[datagen.KEY].to_numpy()) > 0)


def test_change_feed_has_the_stated_shape():
    """Full batches carry the stated operation mix and repeat share."""
    feed = datagen.ChangeFeed(3, datagen.orders_table(3, 20_000, 1000))
    batches = [feed.next_batch() for _ in range(5)]
    assert all(len(b) == datagen.BATCH for b in batches)
    ops = pd.concat(batches)["_cdc_operation"].value_counts(normalize=True)
    for op, share in datagen.OP_MIX.items():
        assert abs(ops[op] - share) < 0.03, (op, ops[op])
    repeat = np.mean([b[datagen.KEY].duplicated().mean() for b in batches])
    assert abs(repeat - datagen.REPEAT_SHARE) < 0.04, repeat
