"""Benchmark entry point.

    python3 perfbench/run.py --workload spread_prep --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, starts a ``local[k]`` session
(k = min(4, cores)) through the package's ``get_spark``, runs the
workload's untimed warm-up ops, then a closed loop with one client for
``--seconds`` of op time, checks every output and prints one JSON
object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` spends the
first half of the window untraced and the second half traced, and
reports the per-layer metrics, the Spark runtime counters per op and
the tracing overhead (traced minus untraced median op time); the spans
are written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``. The
traced run of a workload with companions (``traced_with``) then runs
each companion the same way in the same session and adds the metrics
of the companion's own layers.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from procstat import ProcTree
from spans import SparkCounters, Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout. Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"), os.path.join(run_dir, "ckpt")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(run_dir, "ckpt")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the package is imported from the checkout, by this process and by
    # the Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _q(values: list[float], q: float) -> float:
    """Quantile with linear interpolation between order statistics."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (pos - lo)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    from commodity_price_forecasting_spark.session import ensure_package_shipped, get_spark

    proc = ProcTree()
    k = min(4, os.cpu_count() or 1)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{k}]",
        shuffle_partitions=k,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    ensure_package_shipped(spark)
    session_s = time.perf_counter() - t0
    _log(f"session started in {session_s:.2f}s")
    try:
        return _measure(args, spark, session_s, run_dir, proc)
    finally:
        spark.stop()
        _stop_jvm(proc)
        proc.stop()
        _log("stopped")


def _stop_jvm(proc) -> None:
    """Stop the JVM and wait for every child to exit. The gateway JVM
    exits when its stdin closes; the Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        popen = getattr(gw, "proc", None)
        if popen is not None:
            popen.stdin.close()
            try:
                popen.wait(timeout=30)
            except subprocess.TimeoutExpired:
                popen.kill()
                popen.wait()
    deadline = time.time() + 30
    while proc.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in proc.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _measure(args, spark, session_s: float, run_dir: str, proc: ProcTree) -> int:
    tracer = Tracer(spark, enabled=bool(args.trace))
    counters = SparkCounters(spark) if args.trace else None
    wl = WORKLOADS[args.workload](spark, tracer, _data_dir(run_dir, args.workload), args.seed)

    t0 = time.perf_counter()
    with tracer.span("sources.generate"):
        wl.generate()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup()
    setup_s = session_s + gen_s + (time.perf_counter() - t0)
    setup_spans = len(tracer.spans)
    _log(f"set up in {setup_s:.2f}s")

    per_op, failed = _drive(wl, args, spark, tracer, counters, proc)
    attempted = len(per_op) + wl.warmup_ops
    if args.trace:
        metrics = _layer_metrics(tracer, per_op, setup_spans, session_s)
        for companion in wl.traced_with:
            # its layers are traced here; it has no end-to-end run of its own
            cw = companion(spark, tracer, _data_dir(run_dir, companion.name), args.seed)
            cw.generate()
            cw.setup()
            c_ops, c_failed = _drive(cw, args, spark, tracer, counters, proc)
            failed += c_failed
            attempted += len(c_ops) + cw.warmup_ops
            c_metrics = _layer_metrics(tracer, c_ops, 0, session_s)
            metrics.update({name: c_metrics[name] for name in cw.layers})
            _print_named(cw, c_ops, c_failed, len(c_ops) + cw.warmup_ops, args.seed)
        tracer.unwrap_all()
        os.makedirs(WORK, exist_ok=True)
        tracer.dump(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
    else:
        metrics = _end_to_end(wl, per_op, setup_s, proc)
    for name, m in metrics.items():
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}")
    _print_named(wl, per_op, failed, attempted, args.seed)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _data_dir(run_dir: str, name: str) -> str:
    path = os.path.join(run_dir, "data", name)
    os.makedirs(path)
    return path


def _drive(wl, args, spark, tracer, counters, proc: ProcTree) -> tuple[list[dict], int]:
    """Untimed warm-up ops, then the closed loop, then the output check.
    Returns one record per timed op (kind, seconds, CPU seconds, traced,
    op id, Spark counters of a traced op) and the number of failures."""
    oracle = wl.start_oracle()
    failed = 0
    with tracer.muted():
        for _ in range(wl.warmup_ops):  # class loading, codegen and JIT at the target size
            try:
                wl.op()
            except Exception:
                traceback.print_exc()
                failed += 1

    _log(f"{wl.name} warm-up done")
    if oracle is not None:
        oracle.join()  # so it never shares the cores with a timed op
        _log("oracle done")
    _full_gc(spark)
    per_op: list[dict] = []
    cpu = proc.sample()
    elapsed = 0.0
    n_plain = n_traced = 0  # trace mode: at least one op of each
    # a side op still due when the window closes runs after it
    while (
        elapsed < args.seconds
        or n_plain + n_traced < wl.min_ops
        or (args.trace and not n_traced)
        or wl.side_due(elapsed, args.seconds)
    ):
        traced = bool(args.trace) and n_plain > 0 and elapsed >= args.seconds / 2
        kind = "side" if wl.side_due(elapsed, args.seconds) else "op"
        tracer.op = 0 if tracer.op is None else tracer.op + 1
        first_span = len(tracer.spans)
        mute = tracer.muted() if not traced else contextlib.nullcontext()
        with mute:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{kind}"):
                    wl.side_op() if kind == "side" else wl.op()
            except Exception:
                traceback.print_exc()
                failed += 1
            dt = time.perf_counter() - t0
        cpu_before, cpu = cpu, proc.sample()
        rec = {"kind": kind, "s": dt, "cpu": cpu - cpu_before, "traced": traced, "id": tracer.op}
        tracer.end_op()
        if traced:
            rec["spark"] = counters.collect([s["group"] for s in tracer.spans[first_span:]])
        if kind == "side":
            wl.side_done()
            _full_gc(spark)
        else:
            elapsed += dt
            n_traced += traced
            n_plain += not traced
        per_op.append(rec)
        cpu = proc.sample()

    _log(f"{wl.name}: {len(per_op)} ops done")
    failed += wl.check(oracle)
    _log(f"{wl.name} checked")
    return per_op, failed


#: the intended op mix of signal_serving: one refit per this many requests
REQUESTS_PER_REFIT = 50


def _full_gc(spark) -> None:
    """Collect the JVM heap before timed ops, so garbage left by the
    warm-up op or a refit is not charged to the ops that follow."""
    spark.sparkContext._jvm.java.lang.System.gc()


def _end_to_end(wl, per_op, setup_s, proc) -> dict:
    lat = [r["s"] for r in per_op if r["kind"] == "op"]
    side = [r["s"] for r in per_op if r["kind"] == "side"]
    if side:
        # closed-loop throughput at the intended mix, from the measured
        # median request and refit times (a run holds too few requests
        # for the mix itself)
        n = REQUESTS_PER_REFIT
        items = n / (n * statistics.median(lat) + statistics.median(side))
    else:
        items = wl.work / statistics.median(lat)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_ms_p50": {"value": 1000 * statistics.median(lat), "unit": "ms"},
        "items_per_s": {"value": items, "unit": "1/s"},
        "peak_rss_mb": {"value": proc.peak_rss_kb / 1024, "unit": "MB"},
    }


#: per-layer time metrics: metric name -> span names whose self time it sums
LAYER_TIMES = {
    "sources.scan_s": ("sources.scan",),
    "e1_pipeline.daily_bars_s": ("e1_pipeline.daily_bars",),
    "cleaning.impute_s": ("cleaning.impute",),
    "e1_pipeline.spreads_s": ("e1_pipeline.spreads",),
    "e1_pipeline.future_spreads_s": ("e1_pipeline.future_spreads",),
    "e1_pipeline.rank_s": ("e1_pipeline.rank",),
    "profiling.summary_s": ("profiling.summary",),
    "serving.predict_signal_s": ("serving.predict_signal",),
    "serving.collect_s": ("serving.collect",),
    "textops.redact_quality_s": ("textops.redact", "textops.quality"),
    "dedup.exact_s": ("dedup.exact",),
    "dedup.minhash_s": ("dedup.shingles", "dedup.minhash"),
    "dedup.components_s": ("dedup.components",),
    "similarity.semantic_dedup_s": ("similarity.semantic_dedup",),
}

#: set-up layers, measured once per run
SETUP_TIMES = {
    "sources.generate_s": "sources.generate",
    "sources.load_data_s": "sources.load_data",
    "reference_pipeline.run_e1_s": "reference_pipeline.run_e1",
}


def _layer_metrics(tracer, per_op, setup_spans, session_s) -> dict:
    spans = tracer.spans
    selfs = tracer.self_times()
    traced = [r for r in per_op if r["traced"]]
    traced_ops = {r["id"] for r in traced if r["kind"] == "op"}
    sides = {r["id"] for r in traced if r["kind"] == "side"}
    n_ops = max(len(traced_ops), 1)

    def op_sum(names, ops) -> float:
        return sum(selfs[j] for j, s in enumerate(spans) if s["op"] in ops and s["name"] in names)

    def op_rows(name) -> float:
        return sum(s.get("rows", 0) for s in spans if s["op"] in traced_ops and s["name"] == name) / n_ops

    m = {"session.start_s": {"value": session_s, "unit": "s"}}
    for metric, name in SETUP_TIMES.items():
        v = sum(s["end"] - s["start"] for s in spans[:setup_spans] if s["name"] == name)
        m[metric] = {"value": v, "unit": "s"}
    for metric, names in LAYER_TIMES.items():
        m[metric] = {"value": op_sum(names, traced_ops) / n_ops, "unit": "s/op"}
    refit = [selfs[j] for j, s in enumerate(spans) if s["op"] in sides and s["name"] == "ensemble.run_ensemble"]
    m["ensemble.run_ensemble_s"] = {"value": statistics.median(refit) if refit else 0.0, "unit": "s/op"}
    m["ensemble.jobs_per_refit"] = {
        "value": statistics.mean(r["spark"]["jobs"] for r in traced if r["kind"] == "side") if sides else 0.0,
        "unit": "count",
    }
    sp = [r["spark"] for r in traced]
    req = [r["spark"] for r in traced if r["kind"] == "op"]
    serving = bool(op_sum(("serving.collect",), traced_ops))
    m["serving.jobs_per_request"] = {
        "value": statistics.mean(r["jobs"] for r in req) if serving else 0.0,
        "unit": "count",
    }
    m["serving.tasks_per_request"] = {
        "value": statistics.mean(r["tasks"] for r in req) if serving else 0.0,
        "unit": "count",
    }
    cand, edges = op_rows("dedup.lsh"), op_rows("dedup.edges")
    m["dedup.lsh_candidates"] = {"value": cand, "unit": "count"}
    m["dedup.edges"] = {"value": edges, "unit": "count"}
    m["dedup.candidate_yield"] = {"value": edges / cand if cand else 0.0, "unit": "ratio"}
    n = max(len(sp), 1)
    run_ms = sum(r["run_ms"] for r in sp)
    m["spark.jobs_per_op"] = {"value": sum(r["jobs"] for r in sp) / n, "unit": "count"}
    m["spark.tasks_per_op"] = {"value": sum(r["tasks"] for r in sp) / n, "unit": "count"}
    m["spark.shuffle_write_mb_per_op"] = {
        "value": sum(r["shuffle_write_b"] for r in sp) / n / 2**20,
        "unit": "MB",
    }
    m["spark.spill_mb_per_op"] = {"value": sum(r["spill_b"] for r in sp) / n / 2**20, "unit": "MB"}
    m["spark.executor_run_s_per_op"] = {"value": run_ms / n / 1000, "unit": "s"}
    m["spark.gc_frac"] = {"value": sum(r["gc_ms"] for r in sp) / run_ms if run_ms else 0.0, "unit": "ratio"}
    plain = [r["s"] for r in per_op if r["kind"] == "op" and not r["traced"]]
    with_trace = [r["s"] for r in per_op if r["kind"] == "op" and r["traced"]]
    overhead = statistics.median(with_trace) - statistics.median(plain) if plain and with_trace else 0.0
    m["trace.overhead_ms"] = {"value": 1000 * overhead, "unit": "ms"}
    return m


def _print_named(wl, per_op, failed, attempted, seed) -> None:
    """The workload's metrics under their workload-specific names (from
    untraced ops only), and a run report on stderr."""
    ops = [r for r in per_op if r["kind"] == "op"]
    report = {
        "workload": wl.name,
        "seed": seed,
        "ops": len(ops),
        "side_ops": len(per_op) - len(ops),
        "op_s": [round(r["s"], 3) for r in ops],
        "op_cpu_s": [round(r["cpu"], 2) for r in ops],
    }
    lat = [r["s"] for r in ops if not r["traced"]]
    side = [r["s"] for r in per_op if r["kind"] == "side" and not r["traced"]]
    # not a declared metric: the same ops cost 4.0 s of CPU in one JVM
    # and 5.3 s in the next, so it spread 0.12-0.28 over 10 seeds
    named = {
        "failed_ops_frac": (failed / attempted, ""),
        "cpu_s_per_op": (statistics.mean(r["cpu"] for r in ops if not r["traced"]), "s"),
    }
    if wl.name == "spread_prep":
        named["prep_rows_per_s"] = (wl.work / statistics.median(lat), "rows/s")
    elif wl.name == "signal_serving":
        named["signal_ms_p50"] = (1000 * statistics.median(lat), "ms")
        named["signal_ms_p90"] = (1000 * _q(lat, 0.9), "ms")
        if side:
            named["refit_s_p50"] = (statistics.median(side), "s")
        report["signals"] = collections.Counter(row["signal"] for *_, row in wl.requests)
    else:
        named["curation_docs_per_s"] = (wl.work / statistics.median(lat), "docs/s")
        report["stage5_lane"] = getattr(wl, "stage5_lane", None)
    for name, (v, unit) in named.items():
        print(f"{wl.name} {name} = {v:.6g} {unit}".rstrip())
    print(json.dumps(report), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
