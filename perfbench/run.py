"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload campaign --seed 1 --seconds 30 --trace 0

Run from the root of a checkout; see perfbench/README.md. The last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it is the full record (``perfbench record: {...}``).

A run is a closed loop with one client on a ``local[nproc]`` session:
generate inputs and a plan of ops from the seed, compute the references,
warm every op type up, then time the planned ops (their number is set by
``--seconds``). ``--trace 1`` times the same ops twice: once with spans
(times and job counts per layer), then in a new session of the same, warm
JVM with the Spark event log on (task metrics per layer).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: fixed driver heap (the package's SPARK_DRIVER_MEMORY setting)
DRIVER_MEMORY = "2g"
#: where each run's temporary root lives, inside the checkout
TMP_PARENT = ROOT / ".perfbench_tmp"


def session(root: Path, nproc: int, eventlog: Path | None = None):
    from blueetl_spark.session import get_spark

    conf = {
        "spark.local.dir": str(root / "spark-local"),
        "spark.sql.warehouse.dir": str(root / "warehouse"),
        # the whole fixed heap is committed and touched at start, so the
        # RSS does not follow when the collector happens to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root / 'tmp'} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog is not None:
        eventlog.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(eventlog),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)


def settle(spark) -> None:
    """Drop cached and checkpointed frames left by the previous op."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed(w, ops, tracer, spark) -> dict:
    """Run ``ops`` one after the other; returns latencies and failures."""
    from perfbench.host import cpu_ticks, peak_rss_mb, reset_peak_rss, steal_share

    lat, steal, failed, first = [], [], 0, None
    for i, op in enumerate(ops):
        w.settle()
        settle(spark)
        if i == 0:
            reset_peak_rss()
        tracer.op = i
        ticks = cpu_ticks()
        t = time.perf_counter()
        first = first or t
        try:
            with tracer.span("op"):
                ok = op()
        except Exception:  # an op that raises counts as failed
            traceback.print_exc()
            ok = False
        lat.append(time.perf_counter() - t)
        steal.append(steal_share(ticks, cpu_ticks()))
        failed += not ok
    return {"first": first, "lat": lat, "steal": steal, "failed": failed,
            "rss": peak_rss_mb()}


def layer_metrics(a: dict, b: dict, tracer_a, tracer_b, groups) -> dict:
    """Per-layer medians over ops: times, job counts and counters from the
    spans-only pass ``a``, task metrics from the event-log pass ``b``."""
    from perfbench.eventlog import METRICS
    from perfbench.spans import per_op
    from perfbench.stats import median

    out = {}
    for k, xs in per_op(tracer_a.spans, lambda s: s.self_s).items():
        out[f"{k}.s"] = median(xs)
    for k, xs in per_op(tracer_a.spans, lambda s: s.jobs).items():
        out[f"{k}.jobs"] = median(xs)
    for k, xs in a["counters"].items():
        out[k] = median(xs)
    empty = dict.fromkeys(METRICS, 0.0)
    for m in METRICS:
        for k, xs in per_op(tracer_b.spans,
                            lambda s: groups.get(s.group, empty)[m]).items():
            out[f"{k}.{m}"] = median(xs)
    if "step.features.executor_run_s" in out:
        out["step.features.python_gap_s"] = (
            out["step.features.executor_run_s"] - out["step.features.executor_cpu_s"]
        )
    out["trace.overhead_s"] = sum(b["lat"]) - sum(a["lat"])
    return out


def emit(spec: dict, metrics: dict, trace: int, record: dict) -> None:
    """Print the record, then the result line with exactly the metrics
    BENCHMARK.json lists for this mode. A per-layer metric of a layer the
    workload does not run reads 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    chosen = {}
    for m in wanted:
        if trace:
            value = metrics.get(m["name"], 0.0)
        else:
            value = metrics[m["name"]]
        chosen[m["name"]] = {"value": value, "unit": m["unit"]}
    record["metrics"] = metrics
    print("perfbench record: " + json.dumps(record, sort_keys=True), flush=True)
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": chosen,
    }), flush=True)


def run(args, root: Path, spec: dict) -> None:
    from perfbench import eventlog
    from perfbench.host import loadavg, versions
    from perfbench.spans import Tracer
    from perfbench.stats import median, tail
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    (root / "tmp").mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(root / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_start": loadavg(),
        "driver_memory": DRIVER_MEMORY,
    }
    spark = session(root, nproc)
    record["versions"] = versions(spark)
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    w = WORKLOADS[args.workload](spark, root, args.seed, tracer)
    t = time.perf_counter()
    w.prepare(args.seconds)
    gen_s = time.perf_counter() - t
    w.check()
    w.warmup()
    a = timed(w, w.ops(), tracer, spark)
    a["counters"] = w.counters
    setup_s = a["first"] - T0 - gen_s - w.check_s
    attempted, failed = len(a["lat"]), a["failed"]
    oracle_ok = all(getattr(w, "oracle_ok", {}).values())
    record.update({
        "gen_s": gen_s, "check_s": w.check_s, "setup_s": setup_s,
        "op_latencies_s": a["lat"], "op_steal_share": a["steal"],
    })
    metrics = {
        "setup_s": setup_s,
        "wall_s": sum(a["lat"]),
        "op_p50_s": median(a["lat"]),
        "peak_rss_mb": a["rss"],
        "op_ok_share": (attempted - failed) / attempted,
        "op_fail_share": failed / attempted,
    }
    p90 = tail(a["lat"], 0.9)
    if p90 is not None:
        metrics["op_p90_s"] = p90
    if args.trace:
        spark.stop()
        evdir = root / "eventlog"
        spark = session(root, nproc, evdir)
        tracer_b = Tracer(spark.sparkContext, enabled=True)
        w.rebind(spark, tracer_b)
        b = timed(w, w.ops(), tracer_b, spark)
        spark.stop()
        groups = eventlog.read(next(evdir.iterdir()))
        attempted += len(b["lat"])
        failed += b["failed"]
        metrics = layer_metrics(a, b, tracer, tracer_b, groups)
        record["op_latencies_traced_s"] = b["lat"]
    else:
        spark.stop()
    record.update({
        "attempted": attempted, "failed": failed,
        "correct": failed == 0 and oracle_ok,
        "loadavg_end": loadavg(),
    })
    emit(spec, metrics, args.trace, record)


def stop_jvm() -> None:
    """Stop Spark, end the JVM and wait for it. The JVM exits when its
    stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    try:
        import blueetl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the blueetl_spark package is missing: {exc}",
              file=sys.stderr)
        return 2
    # a terminated run still removes its temporary root (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    TMP_PARENT.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_PARENT))
    try:
        run(args, root, spec)
    finally:
        stop_jvm()
        shutil.rmtree(root, ignore_errors=True)
        try:
            TMP_PARENT.rmdir()
        except OSError:
            pass  # another run still uses it
    return 0


if __name__ == "__main__":
    sys.exit(main())
