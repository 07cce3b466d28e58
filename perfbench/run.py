#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,scan,curate,lookup} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process, one client, closed loop:
set-up (Spark session, input, the table, WARMUP_OPS untimed ops), then
ops back to back until ``--seconds`` have passed; every op's output is
checked against the input. Spark runs ``local[nproc]`` with ``nproc``
shuffle partitions, and every file it writes stays under
``.perfbench_work/`` in the checkout (removed at exit).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of ``perfbench/layers.py``. The line
before it is ``{"info": ...}``: nproc, load averages, the op count and
every op time, and ``op_fail_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probes, spans  # noqa: E402

WORKLOAD_NAMES = ("ingest", "scan", "curate", "lookup")
# 4 stripes of 8,192 rows: one op of ingest, scan or curate takes about 2 s
# on 4 cores, so a 20 s run times 6-10 of them
INPUT_TURNS = 32_768
# the first two ops after start-up run up to 1.3x slower than later ones
WARMUP_OPS = 2
TAIL_BEYOND = 10  # the lookup tail is the slowest op with this many beyond
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=INPUT_TURNS,
                   help="input size in transcript turns (default "
                        "%(default)s; the self-test runs a smaller one)")
    return p.parse_args(argv)


def configure_env(work: str, trace_dir: str | None) -> None:
    """Point every scratch file of Python, Spark and the JVM into ``work``
    and pass the session options that ``session.get_spark`` does not take.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    py_path = [ROOT]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: C2's compiles take cores from the tasks for the first
        # minute, and op times would drift down by a third over ~10 ops
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        # a table's run ids are 12 random hex digits under ``run=<id>/``;
        # with type inference an id such as 66e240854352 is read as a
        # decimal, and building 10^240854352 stalls the reader for minutes
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    }
    if trace_dir:
        py_path.append(os.path.join(HERE, "tracehook"))
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        eventlog_dir = os.path.join(work, "eventlog")
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYTHONPATH"] = os.pathsep.join(py_path)
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it left."""
    from pyspark import SparkContext
    spark.stop()
    children = probes.descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        time.sleep(0.1)
        children = [p for p in children if probes.alive(p)]
    for pid in children:
        os.kill(pid, signal.SIGKILL)


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples beyond it; (None, None) with too few samples."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None, None
    return sorted(values)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def end_to_end(wl, secs: list[float], setup_s: float) -> dict:
    """The end-to-end metrics of a ``--trace 0`` run: lookup reports its
    latency, the other workloads the input turns they process per second."""
    m = {"setup_s": {"value": setup_s, "unit": "s"}}
    if wl.name == "lookup":
        tail_s, _ = tail(secs)
        m["lookup_p50_ms"] = {"value": statistics.median(secs) * 1e3,
                              "unit": "ms"}
        m["lookup_tail_ms"] = {"value": tail_s and tail_s * 1e3, "unit": "ms"}
    else:
        m["turns_per_s"] = {"value": wl.n_turns / statistics.median(secs),
                            "unit": "turns/s"}
    m["bytes_per_raw_byte"] = {"value": wl.bytes_per_raw_byte(),
                               "unit": "ratio"}
    return m


def run_op(wl, sc, tracer: spans.Tracer, i: int, traced: bool) -> dict:
    """Op ``i`` (negative: a warm-up op) timed, then its untimed check. A
    failure of either is printed and recorded, never raised."""
    rec = {"label": f"op{i}" if i >= 0 else f"warmup{-i}", "traced": traced,
           "attrs": wl.op_attrs(i), "ok": False}
    sc.setLocalProperty(spans.OP_PROPERTY, rec["label"])
    sc.setLocalProperty(spans.TRACE_PROPERTY, str(int(traced)))
    tracer.enabled = traced
    t0 = time.perf_counter_ns()
    try:
        with tracer.span(f"op.{wl.name}"):
            out = wl.op(i)
    except Exception:
        out = None
        traceback.print_exc(file=sys.stderr)
    t1 = time.perf_counter_ns()
    rec.update(seconds=(t1 - t0) / 1e9,
               start_ms=(t0 + tracer.epoch_offset_ns) / 1e6,
               end_ms=(t1 + tracer.epoch_offset_ns) / 1e6)
    if out is not None:
        sc.setLocalProperty(spans.OP_PROPERTY, f"check-{rec['label']}")
        try:
            wl.check(i, out)
            rec["ok"] = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
    tracer.enabled = False
    return rec


def run(args: argparse.Namespace, work: str) -> int:
    load_start = probes.loadavg()
    steal_start = probes.steal_s()
    n = probes.nproc()
    trace_dir = os.path.join(work, "spans") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    configure_env(work, trace_dir)

    tracer = spans.Tracer()
    if args.trace:
        tracer.patch_loaded()
        tracer.enabled = True
    from orc_format_spark import session
    from perfbench import workloads

    t = time.perf_counter()
    spark = session.get_spark(app=f"perfbench-{args.workload}",
                              master=f"local[{n}]", shuffle_partitions=n)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        sc.setLocalProperty(spans.OP_PROPERTY, "setup")
        sc.setLocalProperty(spans.TRACE_PROPERTY, str(args.trace))
        ctx = workloads.Ctx(spark=spark, seed=args.seed, turns=args.turns,
                            work=work, tracer=tracer,
                            timings={"session_s": session_s})
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        warm = [run_op(wl, sc, tracer, -k, bool(args.trace))
                for k in range(1, WARMUP_OPS + 1)]
        setup_s = probes.process_age_s()

        ops = []
        rss_mb = 0.0
        t_begin = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_begin < args.seconds:
            ops.append(run_op(wl, sc, tracer, i,
                              bool(args.trace) and i % 2 == 1))
            rss_mb = max(rss_mb, probes.python_worker_hwm_mb())
            i += 1
    finally:
        stop_spark(spark)

    secs = [o["seconds"] for o in ops]
    # warm-up ops are checked like the timed ones, so they count here
    attempted = len(warm) + len(ops)
    failed = sum(not o["ok"] for o in warm + ops)
    if args.trace:
        from perfbench import eventlog, layers
        report = layers.report(
            args.workload, tracer.spans, tracer.epoch_offset_ns,
            spans.read_worker_spans(trace_dir),
            eventlog.parse(os.path.join(work, "eventlog")), ops,
            ctx.timings, ctx.tables, rss_mb)
        metrics = {name: {"value": report[name], "unit": unit}
                   for name, unit in layers.per_layer(args.workload)}
        not_exercised = layers.NOT_EXERCISED[args.workload]
    else:
        metrics = end_to_end(wl, secs, setup_s)
        not_exercised = []
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n, "loadavg_start": load_start,
        "loadavg_end": probes.loadavg(),
        "steal_s": round(probes.steal_s() - steal_start, 2),
        "clients": 1, "loop": "closed",
        "turns": wl.n_turns, "conversations": wl.n_convs, "ops": len(ops),
        "traced_ops": sum(o["traced"] for o in ops),
        "warmup_s": [round(o["seconds"], 3) for o in warm],
        "op_s": [round(x, 3) for x in secs],
        "op_fail_frac": {"value": failed / attempted, "unit": "frac"},
        "setup": {k: round(v, 3) for k, v in ctx.timings.items()},
        "not_exercised": not_exercised,
    }
    if args.workload == "lookup":
        info["tail_percentile"] = tail(secs)[1]
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "orc_format_spark")):
        print(f"perfbench: no orc_format_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
