#!/usr/bin/env python3
"""Benchmark of the medallion pipeline, end to end and per layer.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One invocation starts a Spark session
sized to the machine, generates the workload's inputs from ``--seed``,
warms the JIT on separate inputs from another seed, runs the workload
as a closed loop for ``--seconds`` and at least the workload's minimum
number of cycles, checks the program's outputs, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs with the Spark event log on, records spans and job groups on every
other pair of cycles, and reports the per-layer metrics instead (the
full breakdown goes to a side file under ``.perfbench/results/``). The line before the last is a report with the
environment stamp and every metric by name, unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

#: spans folded into Spark counters, per workload
SPANS = {
    "medallion_batch": [
        "sources.batch.customer",
        "sources.batch.product",
        "sources.batch.txn_history",
        "operators.unstructured.pdf",
        "plans.dag.customer_processed",
        "plans.dag.invoice_processed",
        "plans.dag.sales_enrich_curated",
        "apps.unpaid_invoices",
        "apps.recommendation",
    ],
    "stream_and_queries": [
        "streaming.drain",
        "plans.txn_refresh.refresh",
        "sources.txn_catalog.read",
        "plans.queries.pass",
    ],
}
COUNTERS = ["jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "driver_only_s"]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def _tree_pids(root: int) -> list[int]:
    parents = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parents.items() if pp in frontier]
        out.extend(frontier)
    return out


def tree_pss_mb(pids: list[int]) -> float:
    """Proportional set size of ``pids``: forked Python workers share
    most of their pages with their daemon, and RSS would count those
    once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total / 1024


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class WorkerSampler(threading.Thread):
    """Peak PSS of the JVM's Python descendants (the daemon and its
    forked UDF workers), sampled every ``interval`` while it runs. Other
    children of the JVM are left out: one the JVM has forked but not yet
    exec'd shares the JVM's pages and would carry half of them in its
    PSS."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.jvm_pid, self.interval, self.peak_mb = jvm_pid, interval, 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = [p for p in _tree_pids(self.jvm_pid)[1:] if _is_python(p)]
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pids))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the program
    keeps alive, whatever the collector's own sizing and timing."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # the second collection frees what the first queued for Spark's
    # ContextCleaner (broadcasts, shuffles, cached plans of dead frames)
    mx.gc()
    time.sleep(0.5)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))] if s else 0.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def stop_jvm() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fit the session to the machine BEFORE the package is imported:
    # session.DEFAULT_SHUFFLE_PARTITIONS reads SPARK_GRAFT_CPUS at import.
    cpus = nproc()
    heap_max_mb = min(3072, physical_mb() // 5)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_max_mb}m"
    sys.path.insert(0, ROOT)
    try:
        import bench  # the headline bench's contention probes
        import pyspark
        from pyspark import SparkContext
        from perfbench import spans, workloads
        from summit_23_snowpark_data_lake_workloads_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program under {ROOT}: {exc}", file=sys.stderr)
        return 2

    # A fresh private root per run: warehouse, Spark scratch, temp files,
    # event log and generated inputs all live under it and go with it.
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    root = os.path.join(STATE, "runs", run_id)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the session launches (the launcher and the driver) keeps
    # its temp files and no perf-data file outside the run root
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    results_dir = os.path.join(STATE, "results")
    os.makedirs(results_dir, exist_ok=True)

    load_start = bench._await_idle_box(max_load=float(cpus), max_wait_s=0)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={root}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(root, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(root, "eventlog"),
                # Spark 4.1 writes zstd-compressed rolling logs by default;
                # Python has no zstd reader here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # A traced run opens with one untraced lead-in cycle, left out of the
    # comparison because the first timed cycles are still settling, then
    # alternates untraced and traced cycles in blocks of U T T U, so a
    # steady drift in speed falls on both halves alike; its
    # trace.overhead_frac compares the two halves of the same run.
    min_cycles = 5 if args.trace else 0
    fold_pending, workers = False, None
    try:
        phases = {"import_s": time.perf_counter() - t_start}
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t_start - phases["import_s"]
        # spans and job groups cover traced cycles only, not set-up
        tracer = spans.Tracer(run_id, enabled=False, spark=spark)
        ctx = workloads.Context(spark, tracer, root, cpus, args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        setup_info = wl.setup(ctx)
        setup_s = time.perf_counter() - t_start
        min_cycles = max(min_cycles, wl.min_cycles)

        attempted = failed = 0
        per_op: list[dict] = []
        phase: list[str] = []  # per cycle: "lead-in", "untraced" or "traced"
        errors: list[str] = []
        # memory of the program over the timed window only: the JVM's
        # live heap after each cycle and the peak PSS of its Python workers
        live_heap: list[float] = []
        workers = WorkerSampler(SparkContext._gateway.proc.pid)
        workers.start()
        stat0, own0, w0 = bench._proc_stat_busy(), bench._own_tree_jiffies(), time.perf_counter()
        deadline = w0 + args.seconds
        i = 0
        while True:
            traced = bool(args.trace) and i > 0 and (i - 1) % 4 in (1, 2)
            tracer.enabled = traced
            try:
                with tracer.span(args.workload):
                    rec = wl.op(i)
                per_op.append(rec)
                phase.append(
                    "traced" if traced else "lead-in" if args.trace and i == 0 else "untraced"
                )
                live_heap.append(live_heap_mb(spark))
                attempted += wl.ops_per_cycle
                bad = sum(not t["gold_ok"] for t in rec.get("ticks", ()))
                if bad:
                    failed += bad
                    errors.append(f"op {i}: gold differs from the landed messages")
            except Exception as exc:  # one failed op must not lose the run
                traceback.print_exc()
                attempted += 1
                failed += 1
                errors.append(f"op {i}: {type(exc).__name__}: {exc}"[:300])
            i += 1
            if time.perf_counter() >= deadline and i >= min_cycles and (
                not args.trace or (i - 1) % 4 == 0
            ):
                break
        window_s = time.perf_counter() - w0
        tracer.enabled = False
        stat1, own1 = bench._proc_stat_busy(), bench._own_tree_jiffies()
        heap_mb, workers_mb = max(live_heap, default=0.0), workers.stop()

        t_checks = time.perf_counter()
        checks = []
        try:
            checks = wl.check()
        except Exception as exc:  # a check that cannot run has failed
            traceback.print_exc()
            checks = [("checks", False, f"{type(exc).__name__}: {exc}"[:300])]
        attempted += len(checks)
        failed += sum(not ok for _n, ok, _d in checks)

        n_files, n_bytes = wl.stored_bytes()
        in_bytes = wl.input_bytes()
        layer_extra = {}
        if args.trace:
            span_s: dict[str, list[float]] = {}
            for sp in tracer.spans:
                span_s.setdefault(sp.name, []).append(sp.wall)
            layer_extra = wl.layers(per_op, span_s) if per_op else {}
        spark_version = pyspark.__version__
        phases["checks_s"] = time.perf_counter() - t_checks
        fold_pending = bool(args.trace)
    finally:
        if workers is not None and workers.is_alive():
            workers.stop()
        t_stop = time.perf_counter()
        stop_jvm()
        if not fold_pending:  # the event log is folded below, then removed
            shutil.rmtree(root, ignore_errors=True)
    phases["stop_s"] = time.perf_counter() - t_stop

    def latencies(key: str, only: str | None = None) -> list[float]:
        return [x for r, ph in zip(per_op, phase) if only in (None, ph) for x in r[key]]

    cycles = latencies("latencies")
    requests = latencies("requests")
    consume = [statistics.mean(r["requests"]) for r in per_op]
    ext_cores = None
    if stat0 is not None and stat1 is not None:
        hz = os.sysconf("SC_CLK_TCK")
        ext_cores = max(0.0, ((stat1 - stat0) - (own1 - own0)) / hz / window_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cycle_p50_s": (median(cycles), "s"),
        "consume_p50_s": (median(consume), "s"),
        "peak_mem_mb": (heap_mb + workers_mb, "MB"),
    }
    stored_ratio = n_bytes / in_bytes if in_bytes else 0.0
    report = {
        "report": "perfbench",
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "heap_max_mb": heap_max_mb,
        "spark": spark_version,
        "load_avg_start": round(load_start, 2) if load_start is not None else None,
        "load_avg_end": round(os.getloadavg()[0], 2),
        "external_cpu_cores_avg": round(ext_cores, 2) if ext_cores is not None else None,
        "loop": "closed, 1 client",
        "window_s": round(window_s, 3),
        "live_heap_mb_by_cycle": [round(x, 1) for x in live_heap],
        "cycles": len(per_op),
        "cycles_traced": phase.count("traced"),
        "cycle_samples_s": [round(c, 3) for c in cycles],
        "consume_samples_s": [[round(x, 3) for x in r["requests"]] for r in per_op],
        "inputs": setup_info,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "metrics": {
            **{k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "cycle_p90_s": {"value": pct(cycles, 90), "unit": "s"},
            "jvm_live_heap_peak_mb": {"value": heap_mb, "unit": "MB"},
            "python_workers_peak_mb": {"value": workers_mb, "unit": "MB"},
            "stored_bytes_per_input_byte": {"value": stored_ratio, "unit": "ratio"},
            "failed_ops_frac": {"value": failed / max(1, attempted), "unit": "ratio"},
            **(
                {"query_suite_s": {"value": median([r["pass_s"] for r in per_op]), "unit": "s"}}
                if per_op and "pass_s" in per_op[0]
                else {}
            ),
        },
        "samples": {"cycle": len(cycles), "consume_requests": len(requests), "setup": 1},
        "alias": {
            "medallion_batch": "cycle = pipeline_s; consume = consume_p50_s (both apps)",
            "stream_and_queries": "cycle = tick_p50_s/tick_p90_s; consume = mean query of a pass",
        }[args.workload],
        "refresh_modes": sorted(
            {json.dumps(t["modes"], sort_keys=True) for r in per_op for t in r.get("ticks", ())}
        ),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "errors": errors[:5],
    }

    if args.trace:
        metrics, breakdown = per_layer_metrics(args.workload, tracer.spans, root, layer_extra)
        metrics["storage.stored_bytes_per_input_byte"] = (stored_ratio, "ratio")
        metrics["memory.jvm_live_heap_peak_mb"] = (heap_mb, "MB")
        metrics["memory.python_workers_peak_mb"] = (workers_mb, "MB")
        on, off = latencies("latencies", "traced"), latencies("latencies", "untraced")
        # both halves are empty only when every cycle failed (correct: false)
        overhead = median(on) / median(off) - 1.0 if on and off else 0.0
        metrics["trace.overhead_frac"] = (overhead, "ratio")
        report["trace_overhead_cycles_s"] = {"traced": on, "untraced": off}
        side = os.path.join(results_dir, f"{args.workload}-s{args.seed}-trace.json")
        with open(side, "w") as fh:
            json.dump(
                {**report, "per_layer": metrics, "self_time": breakdown,
                 "spans": _span_rows(tracer.spans)},
                fh,
            )
        report["side_file"] = os.path.relpath(side, ROOT)
        shutil.rmtree(root, ignore_errors=True)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(per_op),
                "attempted": attempted,
                "failed": failed,
                "metrics": out,
            }
        )
    )
    return 0


def _span_rows(spans_: list) -> list[dict]:
    return [
        {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
         "run_id": s.run_id}
        for s in spans_
    ]


def per_layer_metrics(workload: str, span_list, root: str, extra) -> tuple[dict, dict]:
    """Every per-layer metric of the benchmark, zero on the layers this
    workload bypasses, and the self-time breakdown of the traced cycles:
    self time summed per span name adds up to their wall time; the root
    spans' own share is the time no inner span covers."""
    from perfbench import spans, workloads

    logs = [os.path.join(root, "eventlog", f) for f in os.listdir(os.path.join(root, "eventlog"))]
    jobs = {}
    for path in logs:
        with open(path) as fh:
            jobs.update(spans.fold_event_log(fh))
    owned = spans.attribute(jobs, span_list)
    counters = spans.span_counters(span_list, owned)
    selfs = spans.self_times(span_list)

    m: dict[str, tuple[float, str]] = {}
    units = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "driver_only_s": "s"}
    for wl, names in SPANS.items():
        for name in names:
            inst = [s for s in span_list if s.name == name] if wl == workload else []
            for c in COUNTERS:
                m[f"{name}.{c}"] = (median([counters[s.id][c] for s in inst]), units[c])
            if name != "plans.queries.pass":
                m[f"{name}_s"] = (median([s.wall for s in inst]), "s")
    for q in workloads.HeadlineQueries.queries:
        inst = [s.wall for s in span_list if s.name == f"plans.queries.{q}"]
        m[f"plans.queries.{q}_s"] = (median(inst), "s")
    for name, unit in EXTRA_UNITS.items():
        m[name] = (float(extra.get(name, 0.0)), unit)

    # one root span per traced cycle; together they are the traced window
    roots = [s for s in span_list if s.name == workload]
    window = sum(r.wall for r in roots)
    remainder = sum(selfs[r.id] for r in roots)
    m["trace.unattributed_frac"] = (remainder / window if window else 0.0, "ratio")
    unowned = [
        j for j in owned.get(None, []) if any(r.start <= j.submit <= r.end for r in roots)
    ]
    m["trace.unowned_jobs"] = (len(unowned), "count")
    by_name: dict[str, float] = {}
    for s in span_list:
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
    breakdown = {
        "window_s": window,
        "traced_cycles": len(roots),
        "self_s_sum": sum(selfs.values()),
        "remainder_s": remainder,
        "self_s_by_span": dict(sorted(by_name.items(), key=lambda kv: -kv[1])),
    }
    return m, breakdown


EXTRA_UNITS = {
    "operators.unstructured.docs_per_s": "1/s",
    "operators.unstructured.extract_ok_ratio": "ratio",
    "sources.catalog.files_written": "count",
    "sources.catalog.bytes_written": "bytes",
    "streaming.batches_per_tick": "count",
    "streaming.rows_per_s": "1/s",
    "operators.rollup.incremental_ratio": "ratio",
    "sources.lakehouse.versions": "count",
    "sources.lakehouse.data_files": "count",
    "sources.lakehouse.manifest_bytes": "bytes",
    "sources.lakehouse.files_per_read": "count",
}


if __name__ == "__main__":
    sys.exit(main())
