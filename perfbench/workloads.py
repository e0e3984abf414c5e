"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts only when the previous one has returned.

A workload object has four steps, called in order by ``run.py``:
``base()`` builds the state the loop starts from (called several times
during set-up, the last build is kept), ``warm_up()`` runs the operations
once untimed, ``run(seconds)`` is the timed loop, and ``check()`` verifies
every recorded output outside the timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import checks
import datagen
from tracing import STREAM_DURATIONS, NullTracer

# SQL-shaped queries. q5, q6, q10, q18, b7, b8, b10 and b13 are left
# out: each repeats the shape of a query kept here (q5 that of q8, q6 that
# of q1, q10, q18, b8 and b13 that of q3, b7 that of
# stream_tumbling_counts, b10 that of cdc_latest_state), and every query
# adds its warm-up run, its timed runs and its oracle check to each run.
SQL_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q8_market_share",
    "q13_customer_distribution", "b9_running_total", "cdc_latest_state",
    "stream_tumbling_counts",
]
LLM_MIX = [
    "dedup_exact", "dedup_minhash_lsh", "sim_cosine_topk", "sim_ivf_topk",
    "sim_ivfpq_topk", "text_quality_stats", "token_counts_by_source",
    "text_repetition_stats", "text_dup_ngram_fraction", "train_chunk_documents",
]
# the query_mix workload runs both mixes in one shuffled pass
QUERY_MIX = SQL_MIX + LLM_MIX
# the exact-pairs oracle the MinHash-LSH check reads its floors against
MINHASH_EXACT = "dedup_ngram_jaccard"


class QueryWorkload:
    """A query mix over generated tables. Each pass runs every query of
    the mix in a seed-shuffled order: cold (after
    ``registry.invalidate_query_cache``), then once warm from the
    prepared-query memo."""

    # the loop runs at least this many passes, however short ``seconds``:
    # a pass takes about 15 s on a 4-core host, and two spread the timed
    # region over changes in the shared host's speed
    MIN_PASSES = 2

    def __init__(self, spark, registry, names: list[str], sf_dir: str,
                 seed: int, tracer, ledger: checks.Ledger):
        self.spark, self.registry, self.names = spark, registry, names
        self.sf_dir, self.tracer, self.ledger = sf_dir, tracer, ledger
        self.rng = random.Random(seed)
        self.cold: list[float] = []
        self.cold_by_query: dict[str, list[float]] = {n: [] for n in names}
        self.warm: list[float] = []
        self.warm_by_query: dict[str, list[float]] = {n: [] for n in names}
        self.passes: list[float] = []
        self.pass_walls: list[float] = []
        self.results: list[tuple[str, pd.DataFrame | None, str | None]] = []

    def base(self) -> None:
        from philotes_spark.sources.catalog import register_views

        register_views(self.spark, self.sf_dir)

    def warm_up(self) -> None:
        def one(name):
            return len(self.registry.QUERIES[name](self.spark, self.sf_dir).toPandas())

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            list(pool.map(one, self.names))
        self.registry.invalidate_query_cache(self.spark, self.sf_dir)

    def _execute(self, name: str, cold: bool) -> float:
        tr = self.tracer if cold else NullTracer()
        pdf, err = None, None
        t0 = time.perf_counter()
        try:
            with tr.operation(name):
                with tr.span("registry.plan_build"):
                    df = self.registry.QUERIES[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span("exec.action"):
                    pdf = df.toPandas()
                end = time.perf_counter()
            # the tracer reads Spark's status store when the operation
            # ends; that is overhead, not query latency
            tr.add("registry.plan_build_s", t1 - t0)
            tr.add("exec.action_s", end - t1)
            tr.add("exec.result_rows", len(pdf))
        except Exception as e:  # counted as a failed operation
            err = f"{type(e).__name__}: {e}"
            end = time.perf_counter()
        self.results.append((name, pdf, err))
        return end - t0

    def run(self, seconds: float) -> None:
        start = time.perf_counter()
        while len(self.passes) < self.MIN_PASSES or _fits(start, seconds, self.pass_walls):
            order = list(self.names)
            self.rng.shuffle(order)
            cold_sum = 0.0
            t_pass = time.perf_counter()
            for name in order:
                self.registry.invalidate_query_cache(self.spark, self.sf_dir)
                c = self._execute(name, cold=True)
                self.cold.append(c)
                self.cold_by_query[name].append(c)
                cold_sum += c
                w = self._execute(name, cold=False)
                self.warm.append(w)
                self.warm_by_query[name].append(w)
            self.passes.append(cold_sum)
            self.pass_walls.append(time.perf_counter() - t_pass)

    def check(self) -> None:
        import duckdb

        want: dict[str, pd.DataFrame] = {}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            for f in sorted(os.listdir(self.sf_dir)):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{self.sf_dir}/{f}'")
            oracle_names = [n for n in self.names if n in self.registry.ORACLES]
            if "dedup_minhash_lsh" in self.names:
                oracle_names.append(MINHASH_EXACT)
            if {"sim_ivf_topk", "sim_ivfpq_topk"} & set(self.names):
                oracle_names.append("sim_cosine_topk")

            def oracle(name):
                # one cursor per thread; each oracle query runs mostly on
                # one core, so they run side by side
                cur = con.cursor()
                try:
                    res = cur.sql(self.registry.ORACLES[name])
                    return name, pd.DataFrame.from_records(res.fetchall(),
                                                           columns=res.columns)
                finally:
                    cur.close()

            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                want.update(pool.map(oracle, dict.fromkeys(oracle_names)))
        finally:
            con.close()
        verdicts: dict[tuple, str | None] = {}
        for name, pdf, err in self.results:
            if err is None:
                key = (name, _digest(pdf))
                if key not in verdicts:
                    verdicts[key] = self._verdict(name, pdf, want)
                err = verdicts[key]
            self.ledger.record(name, err)

    @staticmethod
    def _verdict(name: str, pdf: pd.DataFrame, want: dict) -> str | None:
        if name in checks.RECALL_FLOORS:
            return checks.check_recall(name, pdf, want["sim_cosine_topk"])
        if name == "dedup_minhash_lsh":
            return checks.check_minhash(pdf, want[MINHASH_EXACT])
        return checks.compare(pdf, want[name])


class CdcWorkload:
    """CDC merge-ingest: each batch lands as a feed file and is applied by
    one availableNow run of ``merge_stream_into_snapshot``; a latest-state
    read through ``SnapshotTable.read`` follows every commit."""

    BASE_FILES = 8  # the base table is committed as this many key ranges
    WARM_BATCHES = 3  # untimed batches; the first ones still pay JIT warm-up

    def __init__(self, spark, work_dir: str, seed: int, orders: pd.DataFrame,
                 tracer, ledger: checks.Ledger):
        self.spark, self.work, self.tracer, self.ledger = spark, work_dir, tracer, ledger
        self.feed = datagen.ChangeFeed(seed, orders)
        self.base_dir = os.path.join(work_dir, "base")
        datagen.write_tables({"orders": self.feed.expected()}, self.base_dir)
        self.feed_dir = os.path.join(work_dir, "feed")
        self.ckpt = os.path.join(work_dir, "checkpoint")
        self.table: str | None = None
        self.builds = 0
        self.seq = 0
        self.commit: list[float] = []
        self.read: list[float] = []
        self.changes: list[int] = []
        self.cycle_walls: list[float] = []
        # traced run: what the merges wrote, against the changes they applied
        self.written = {"rows": 0, "bytes": 0, "changes": 0, "change_bytes": 0}
        self.seen_files: set[str] = set()

    def base(self) -> None:
        from pyspark.sql import functions as F

        from philotes_spark.sources.catalog import load_table
        from philotes_spark.sources.snapshots import SnapshotTable

        self.builds += 1
        self.table = os.path.join(self.work, f"table-{self.builds}")
        orders = load_table(self.spark, self.base_dir, "orders")
        SnapshotTable(self.spark, self.table).commit(
            orders.repartitionByRange(self.BASE_FILES, F.col(datagen.KEY)),
            stats_cols=[datagen.KEY],
        )

    def warm_up(self) -> None:
        for _ in range(self.WARM_BATCHES):
            self._cycle(record=False)

    def _stream(self):
        schema = ", ".join(
            f"{c} {t}" for c, t in [
                ("o_orderkey", "long"), ("o_custkey", "long"),
                ("o_orderstatus", "string"), ("o_totalprice", "double"),
                ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
                ("_cdc_lsn_int", "long"), ("_cdc_operation", "string"),
            ]
        )
        return self.spark.readStream.schema(schema).parquet(self.feed_dir)

    def _cycle(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        from philotes_spark.sources.snapshots import SnapshotTable
        from philotes_spark.streaming.lakehouse import merge_stream_into_snapshot

        tr = self.tracer if record else NullTracer()
        batch = self.feed.next_batch()
        batch["o_orderdate"] = batch["o_orderdate"].dt.tz_localize("UTC")
        parent = SnapshotTable(self.spark, self.table).current_version()
        self.seq += 1
        feed_bytes = datagen.write_feed_file(batch, self.feed_dir, self.seq)
        err, agg = None, None
        landed = time.perf_counter()
        try:
            with tr.operation("cdc.batch"):
                with tr.span("streaming.merge_stream_into_snapshot"):
                    query = merge_stream_into_snapshot(
                        self._stream(), self.table, key_cols=[datagen.KEY],
                        checkpoint_dir=self.ckpt,
                    )
                    query.awaitTermination()
                committed = time.perf_counter()
                tr.attach(str(query.runId))
                with tr.span("sources.snapshots.read"):
                    df = SnapshotTable(self.spark, self.table).read()
                read_built = time.perf_counter()
                with tr.span("exec.action"):
                    agg = df.agg(
                        F.count(F.lit(1)), F.sum(datagen.KEY), F.sum("o_custkey"),
                        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                    ).collect()[0]
                done = time.perf_counter()
            if query.exception() is not None:
                err = f"stream failed: {query.exception()}"
        except Exception as e:  # counted as a failed operation
            err = f"{type(e).__name__}: {e}"
        if err is None:
            err = self._verify(parent, agg)
        # warm-up batches are checked too: a wrong one also leaves the
        # table apart from the model, so later batches fail as well
        self.ledger.record("cdc.batch" if record else "cdc.warm_up", err)
        if err is not None or not record:
            return
        self.commit.append(committed - landed)
        self.read.append(done - committed)
        self.changes.append(len(batch))
        if tr.enabled:
            self._trace_batch(query, landed, committed, read_built, done,
                              len(batch), feed_bytes)

    def _verify(self, parent: int, agg) -> str | None:
        from philotes_spark.sources.snapshots import SnapshotTable

        version = SnapshotTable(self.spark, self.table).current_version()
        if version != parent + 1:
            return f"expected one new version after {parent}, found {version}"
        want_agg = checks.table_aggregates(self.feed.expected())
        got = tuple(int(v) for v in agg)
        return None if got == want_agg else f"aggregates {got} != model {want_agg}"

    def _trace_batch(self, query, landed, committed, read_built, done,
                     n_changes, feed_bytes) -> None:
        import pyarrow.parquet as pq

        tr = self.tracer
        tr.add("snapshots.read_s", read_built - committed)
        tr.add("exec.action_s", done - read_built)
        tr.add("exec.result_rows", 1)
        with tr.overhead():
            progress = [
                p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
                for p in query.recentProgress
            ]
            trigger_ms = sum(d.get("triggerExecution", 0) for d in progress)
            tr.add("stream.start_ms", (committed - landed) * 1e3 - trigger_ms)
            for metric, key in STREAM_DURATIONS.items():
                tr.add(metric, sum(d.get(key, 0) for d in progress))
            # what this commit wrote: the data files new since the last one
            files = _data_files(self.table)
            new = files - self.seen_files
            self.seen_files = files
            w = self.written
            w["rows"] += sum(pq.ParquetFile(f).metadata.num_rows for f in new)
            w["bytes"] += sum(os.path.getsize(f) for f in new)
            w["changes"] += n_changes
            w["change_bytes"] += feed_bytes
            tr.set("snapshots.rows_rewritten_per_change", w["rows"] / w["changes"])
            tr.set("snapshots.bytes_written_per_change_byte", w["bytes"] / w["change_bytes"])

    def run(self, seconds: float) -> None:
        self.seen_files = _data_files(self.table)
        start = time.perf_counter()
        while _fits(start, seconds, self.cycle_walls):
            t = time.perf_counter()
            self._cycle()
            self.cycle_walls.append(time.perf_counter() - t)
            if len(self.cycle_walls) >= 3 and not self.commit:
                break  # every batch so far failed: stop early, report it

    def check(self) -> None:
        from philotes_spark.sources.snapshots import SnapshotTable

        tbl = SnapshotTable(self.spark, self.table)
        if self.tracer.enabled:  # after the timed region: not tracer overhead
            latest = tbl.snapshots().orderBy("version").collect()[-1]
            self.tracer.set("snapshots.live_files", latest.total_files)
        got = tbl.read().toPandas()
        err = checks.compare_tables(got, self.feed.expected(), datagen.KEY)
        self.ledger.record("cdc.final_table", err)


def _digest(pdf: pd.DataFrame) -> tuple:
    """Identity of a result's content, so repeated identical results are
    checked once."""
    cells = pdf.copy()
    for c in cells.columns[cells.dtypes == object]:
        if any(isinstance(v, (np.ndarray, list)) for v in cells[c].head(1)):
            cells[c] = cells[c].map(lambda v: np.asarray(v).tobytes())
    return (tuple(pdf.columns), int(pd.util.hash_pandas_object(cells, index=False).sum()))


def _fits(start: float, seconds: float, walls: list[float]) -> bool:
    """Closed-loop deadline: always run one round, then start another only
    if a round of the median length so far still ends within ``seconds``.
    Every round the loop starts is whole."""
    if not walls:
        return True
    return time.perf_counter() - start + statistics.median(walls) <= seconds


def _data_files(table: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet")
    }
