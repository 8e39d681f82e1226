"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_api --seed 1 --seconds 15 --trace 0

Run from the root of a checkout: the engine package is imported from
there, and all state lives under ``.bench_state/`` (removed at the end).
The run pins the Spark environment, starts one session on
``local[<cpus>]``, builds the workload's seeded inputs (``SETUP_REPS``
times, timed), warms up, runs operations in a loop for ``--seconds``,
then checks every output outside the timed loop. Before it exits, on
every path out, it stops the JVM and every other process it started and
waits for each to end (``host.stop_tree``).

The full record (environment, set-up parts, latency summary, the
metric names per workload, first failures) is printed first; the LAST
stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under
``--trace 1``. A traced run makes each operation twice, untraced then
traced, takes the per-layer numbers from the traced ones and reports the
difference in median latency as ``trace.overhead_pct``; its spans are
written to ``.bench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

import host
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SETUP_REPS = 3
RUN_LIMIT_S = 155
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"

#: the end-to-end metrics under their per-workload names, as reports cite them
NAMED = {
    "search_api": {"search_p50_ms": "latency_p50_ms", "search_p75_ms": "latency_p75_ms"},
    "stream_ingest": {"stream_docs_per_s": "throughput_per_s",
                      "stream_batch_p50_ms": "latency_p50_ms"},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return a


def spark_conf(state_root: str) -> dict[str, str]:
    tmp = os.path.join(state_root, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(state_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job's status for the traced run's resolution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def measure(wl, spark, seconds: float, tracer) -> tuple[list, list, int]:
    """The timed loop: operations until ``seconds`` have passed, without
    starting one that the last operation's duration says would end after
    1.5 × ``seconds`` (so a run's length stays bounded when an operation
    takes about ``seconds``). Under tracing, operations come in pairs
    that run the same request (``run_op(i // 2)``), the first untraced and
    the second traced, so the traced and untraced samples hold the same
    mix and their difference is the tracing alone."""
    results, op_spans, failed_ops = [], [], 0
    min_ops = 2 if tracer else 1
    t_loop = time.perf_counter()
    last = 0.0
    i = 0
    while len(results) < min_ops or (
        time.perf_counter() - t_loop < seconds
        and time.perf_counter() - t_loop + last <= 1.5 * seconds
    ):
        t_op = time.perf_counter()
        traced = tracer is not None and i % 2 == 1
        if tracer is not None:
            tracer.active = traced
            if traced:
                spark.conf.set(PROFILER_CONF, "perf")
            else:
                spark.conf.unset(PROFILER_CONF)
        ctx = tracer.operation(i, wl.name) if traced else nullcontext()
        try:
            with ctx as span:
                res = wl.run_op(i // 2 if tracer is not None else i)
        except Exception:  # one failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            failed_ops += 1
            if failed_ops > 3:
                raise
        else:
            last = time.perf_counter() - t_op
            results.append((traced, res))
            if traced:
                span.attrs.update({k: v for k, v in res.extra.items() if k != "job_groups"})
                span.extra_groups += res.extra.get("job_groups", [])
                op_spans.append(span)
        i += 1
    if tracer is not None:
        tracer.active = False
        spark.conf.unset(PROFILER_CONF)
    return results, op_spans, failed_ops


def end_to_end(results, setup_s: float) -> tuple[dict, dict]:
    lat = [x for _t, r in results for x in r.latencies_s]
    summary = stats.latency_summary(lat)
    wall = sum(r.wall_s for _t, r in results)
    items = sum(r.items for _t, r in results)
    metrics = {
        "setup_s": stats.metric(setup_s, "s"),
        "latency_p50_ms": stats.metric(summary["p50_ms"], "ms"),
        "latency_p75_ms": stats.metric(summary["p75_ms"], "ms"),
        "throughput_per_s": stats.metric(items / wall, "1/s"),
    }
    return metrics, summary


def _time_out() -> None:
    """A run that hangs exits non-zero, with its stacks on stderr, no
    result, and no process of its own left behind."""
    print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
    faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
    host.stop_tree(grace_s=0.0)
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    host.become_subreaper()
    watchdog = threading.Timer(RUN_LIMIT_S, _time_out)
    watchdog.daemon = True
    watchdog.start()
    try:
        return _run(args)
    finally:
        watchdog.cancel()


def _run(args) -> int:
    sys.path.insert(0, CHECKOUT)
    try:
        import pyspark

        import workloads
        from spans import Tracer
        from beis_orp_data_service_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {CHECKOUT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    state_root = os.path.join(CHECKOUT, ".bench_state", f"{args.workload}-{os.getpid()}")
    pinned = host.pin_spark_env(state_root)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": pinned, "nproc": host.cpu_count(),
        "spark_version": pyspark.__version__, "loadavg_start": host.loadavg(),
        "cpu_probe_ms_start": host.cpu_probe_ms(),
    }
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=spark_conf(state_root))
            session_s = time.perf_counter() - t0
            try:
                wl = workloads.WORKLOADS[args.workload](spark, state_root, args.seed)
                input_s = []
                for k in range(SETUP_REPS):
                    t0 = time.perf_counter()
                    wl.make_inputs(k)
                    input_s.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                wl.warm_up()
                warm_s = time.perf_counter() - t0
                tracer = None
                if args.trace:
                    tracer = Tracer(spark)
                    wl.install_tracing(tracer)
                results, op_spans, failed_ops = measure(wl, spark, args.seconds, tracer)
                attempted, failed, failures = wl.check()
                if tracer is not None:
                    tracer.unwrap_all()
                    tracer.wait_for_listeners()
                    layers = wl.layer_metrics(tracer, op_spans)
                    untraced = [x for t, r in results if not t for x in r.latencies_s]
                    traced = [x for t, r in results if t for x in r.latencies_s]
                    layers["trace.overhead_pct"] = 100.0 * (
                        statistics.median(traced) / statistics.median(untraced) - 1.0
                    )
                    layers["session.start_s"] = session_s
                    out_dir = os.path.join(CHECKOUT, ".bench_out")
                    os.makedirs(out_dir, exist_ok=True)
                    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            finally:
                spark.stop()
        setup_s = session_s + statistics.median(input_s) + warm_s
        e2e, summary = end_to_end(results, setup_s)
        attempted += failed_ops
        failed += failed_ops
        record.update({
            "setup": {"session_s": session_s, "inputs_s": input_s, "warm_up_s": warm_s},
            "ops": len(results), "op_unit": wl.op_unit, "latency": summary,
            # in the record only: bimodal on stream_ingest, see README
            "peak_rss_mb": rss.peak_mb,
            "latencies_ms": [round(x * 1000.0, 1) for _t, r in results for x in r.latencies_s],
            "named": {k: e2e[v]["value"] for k, v in NAMED[args.workload].items()},
            "fail_ratio": failed / max(1, attempted), "failures": failures,
            "loadavg_end": host.loadavg(), "cpu_probe_ms_end": host.cpu_probe_ms(),
        })
        if args.trace:
            metrics = {k: stats.metric(layers[k], u) for k, u in workloads.PER_LAYER.items()}
        else:
            metrics = e2e
        record["end_to_end"] = e2e
        print(json.dumps(record, sort_keys=True))
        print(stats.result_line(failed == 0, attempted, failed, metrics))
        return 0
    finally:
        # the JVM and its Python workers end before their state goes
        host.stop_tree(getattr(pyspark.SparkContext._gateway, "proc", None))
        shutil.rmtree(state_root, ignore_errors=True)
        try:  # the shared parent, once no other run uses it
            os.rmdir(os.path.dirname(state_root))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
