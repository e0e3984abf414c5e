"""philotes-spark benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` under ``perfbench/_work/``, starts one ``local[nproc]`` Spark
session, sets up, runs the closed loop for ``--seconds``, checks every
output, and prints the metrics: one ``# name value unit`` line each, then
one JSON object as the last line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is the traced run and reports the per-layer
metrics, writing its spans to ``perfbench/_out/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.1
SETUP_REPS = 3
WORKLOADS = ("query_mix", "cdc_ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> int:
    """Pin the process to its checkout: temp files, Spark's local dirs and
    the JVM's tmpdir all go under ``work``. The core count (returned) comes
    from the process's CPU affinity, as ``nproc`` reports it."""
    cpus = len(os.sched_getaffinity(0))
    # the driver heap is the program's own default (session.get_spark)
    os.environ.pop("SPARK_DRIVER_MEM", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return cpus


def _vm_hwm_kib(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process has ended
        pass
    return 0


def _descendants(root: int) -> list[int]:
    """Live processes below ``root``: the PySpark Python workers the JVM
    started."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _memory(spark) -> dict[str, float]:
    """Peak memory in MiB. ``rss``: the peak resident memory (VmHWM) of
    this Python process, the driver JVM and the JVM's Python workers,
    summed. ``heap``: the driver JVM's peak heap use, summed over its heap
    pools."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    kib = _vm_hwm_kib("self") + _vm_hwm_kib(jvm_pid)
    kib += sum(_vm_hwm_kib(p) for p in _descendants(jvm_pid))
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in mgmt.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )
    return {"rss": kib / 1024, "heap": heap / 2**20}


def run(args, work: str) -> tuple[dict, list[str]]:
    import datagen
    import workloads
    from checks import Ledger
    from stats import geomean, median, percentile, tail_percentile
    from tracing import LAYER_METRICS, NullTracer, Tracer, self_times

    cpus = _environment(work)
    t = time.perf_counter()
    if args.workload == "cdc_ingest":
        orders = datagen.orders_table(args.seed, int(1_500_000 * SF), int(150_000 * SF))
    else:
        sf_dir = os.path.join(work, "sf")
        tables = {**datagen.tpch_tables(args.seed, SF), **datagen.llm_tables(args.seed, SF)}
        datagen.write_tables(tables, sf_dir)
    gen_s = time.perf_counter() - t

    # set-up: session + registry (once per process), then the workload's
    # base state built SETUP_REPS times (median), then the warm-up
    t = time.perf_counter()
    from philotes_spark import registry
    from philotes_spark.session import get_spark

    registry.load_all()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cpus=cpus,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    ready_s = time.perf_counter() - t
    try:
        ledger = Ledger()
        run_id = f"{args.workload}-{args.seed}"
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        if args.workload == "cdc_ingest":
            wl = workloads.CdcWorkload(spark, work, args.seed, orders, tracer, ledger)
        else:
            wl = workloads.QueryWorkload(spark, registry, workloads.QUERY_MIX, sf_dir,
                                         args.seed, tracer, ledger)
        base = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.base()
            base.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = ready_s + median(base) + warmup_s

        t = time.perf_counter()
        wl.run(args.seconds)
        timed_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        mem = _memory(spark)
        # the query mix's two halves: median cold time per query, summed
        halves = {} if args.workload == "cdc_ingest" else {
            half: sum(median(wl.cold_by_query[n]) for n in names)
            for half, names in (("sql", workloads.SQL_MIX), ("llm", workloads.LLM_MIX))
        }
        if args.trace:
            for half, v in halves.items():
                tracer.set(f"mix.{half}_cold_s", v)
            tracer.set("mem.peak_rss_mb", mem["rss"])
            tracer.set("mem.heap_peak_mb", mem["heap"])
            layer = tracer.metrics(timed_s)
            tracer.write_spans(os.path.join(HERE, "_out", f"spans-{run_id}.jsonl"))
    finally:
        # stop the session, then end the JVM (it exits when its stdin
        # closes) and wait for it, so no process outlives the run
        t = time.perf_counter()
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        jvm.wait(timeout=120)
        stop_s = time.perf_counter() - t

    # the typical latency: for a CDC run the median of its like batches;
    # for the query mix the geometric mean over the queries of each one's
    # median over the passes, so that each query weighs the same and the
    # figure does not rest on the few queries in the middle
    if args.workload == "cdc_ingest":
        op, rd = wl.commit, wl.read
        rounds = [c + r for c, r in zip(wl.commit, wl.read)]
        rate = sum(wl.changes) / sum(wl.commit) if wl.commit else 0.0
        label = ("commit", "fresh_read", "ingest_changes_per_s")
        op_s, read_s = median(op), median(rd)
    else:
        op, rd, rounds = wl.cold, wl.warm, wl.passes
        rate = (len(op) + len(rd)) / (sum(op) + sum(rd))
        label = ("query_cold", "query_warm", "queries_per_s")
        op_s = geomean([median(v) for v in wl.cold_by_query.values()])
        read_s = geomean([median(v) for v in wl.warm_by_query.values()])
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_s": (op_s, "s"),
        "read_s": (read_s, "s"),
        "round_s": (median(rounds), "s"),
        "rate_per_s": (rate, "1/s"),
    }
    # the report, under the names of the workload's own operations
    tail = tail_percentile(len(op))
    lines = [
        f"setup_s {setup_s:.4f} s (ready {ready_s:.3f} + base median {median(base):.3f}"
        f" of {SETUP_REPS} + warm-up {warmup_s:.3f}; inputs generated in {gen_s:.3f})",
        f"{label[0]}_p50_s {median(op):.4f} s (n={len(op)})",
        (f"{label[0]}_p{tail}_s {percentile(op, tail):.4f} s (n={len(op)})"
         if tail and tail > 50 else
         f"{label[0]}_tail_s n/a: {len(op)} samples, no percentile above the"
         " median has 10 beyond it"),
        f"{label[1]}_p50_s {median(rd):.4f} s (n={len(rd)})",
        *(f"{label[i]}_geomean_s {v:.4f} s (per query the median of {len(wl.passes)}"
          " passes, then the geometric mean over the queries)"
          for i, v in enumerate((op_s, read_s)) if args.workload != "cdc_ingest"),
        (f"mix_cold_s {median(rounds):.4f} s (median of {len(rounds)} passes)"
         if args.workload != "cdc_ingest" else
         f"batch_round_s {median(rounds):.4f} s (land, commit, read; n={len(rounds)};"
         f" commits {', '.join(f'{c:.3f}' for c in op)} s)"),
        *(f"{half}_mix_cold_s {v:.4f} s (the {half} queries' median cold times, summed)"
          for half, v in halves.items()),
        f"{label[2]} {rate:.4f} 1/s",
        f"failed_frac {ledger.failed_frac:.4f} ({ledger.failed} of {ledger.attempted})",
        f"peak_rss_mb {mem['rss']:.1f} MB (driver heap at the program's default;"
        f" peak heap use {mem['heap']:.1f} MB)",
        f"timed_s {timed_s:.3f} s (checks after it {check_s:.3f} s, JVM stop"
        f" {stop_s:.3f} s, process so far {time.perf_counter() - START:.3f} s)",
    ]
    lines += [f"FAILED {k}: {v}" for k, v in ledger.messages.items()]
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, (u, _) in LAYER_METRICS.items()}
        lines.append(f"traced op_s {op_s:.4f} s (compare the untraced run)")
        own = sorted(self_times(tracer.spans).items(), key=lambda kv: -kv[1])
        lines += [f"self_s {span} {s:.3f} s" for span, s in own if s >= 0.001]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "philotes_spark")):
        print(f"perfbench: no philotes_spark package next to {HERE}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(f"# {line}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
