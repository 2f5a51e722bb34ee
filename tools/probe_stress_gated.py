"""Matched-calib probes for the two stress-tier watch ops (VERDICT r12
#3): class_index (dense_index two-phase over 20M gids) and
theil_sen_win_20m (windowed Theil-Sen over 20M events) — inputs
replicated byte-for-byte from bench.py's run_stress, reps taken only
when an immediately-preceding calib probe sits inside the target band.

    python tools/probe_stress_gated.py [class_index|theil_sen_win_20m] \
        [n_reps] [calib_bar]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _calib_probe, _stress_barrier
from blueetl_spark.session import get_spark

N_EVENTS = 20_000_000


def thunk_class_index(spark):
    from blueetl_spark.operators.extraction import dense_index

    gids = spark.range(N_EVENTS).select(
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("cls"),
        F.xxhash64("id").alias("gid"),
    )
    return lambda: dense_index(
        gids, ["cls"], "gid", "idx", two_phase=True
    ).write.format("noop").mode("overwrite").save()


def thunk_theil_sen(spark):
    from blueetl_spark.operators.timeseries import theil_sen

    n_gids = 20_000
    events = spark.range(N_EVENTS).select(
        F.pmod(F.col("id"), F.lit(n_gids)).cast("long").alias("gid"),
        (F.pmod(F.xxhash64("id"), F.lit(10_000_000)) / 100.0).alias("time"),
    )
    frame = events.select(
        "gid",
        "time",
        F.pmod(F.xxhash64("gid", "time"), F.lit(1_000))
        .cast("double")
        .alias("value"),
    )
    return lambda: theil_sen(
        frame, "value", time_col="time", by=("gid",), window=1_000.0
    ).write.format("noop").mode("overwrite").save()


def main() -> None:
    name = sys.argv[1]
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    bar = float(sys.argv[3]) if len(sys.argv) > 3 else 0.47
    budget_s = float(os.environ.get("PROBE_BUDGET_S", 1800))
    spark = get_spark(app_name="probe_stress_gated")
    thunk = {
        "class_index": thunk_class_index,
        "theil_sen_win_20m": thunk_theil_sen,
    }[name](spark)

    thunk()  # unmeasured warm-up (codegen; the record's min rides later reps)
    _stress_barrier(spark)

    reps, skipped = [], 0
    t_start = time.perf_counter()
    while len(reps) < n_reps and time.perf_counter() - t_start < budget_s:
        c = _calib_probe(spark)
        if c > bar:
            skipped += 1
            print(f"# calib {c} > {bar}, waiting", file=sys.stderr, flush=True)
            time.sleep(3)
            continue
        t0 = time.perf_counter()
        thunk()
        dt = round(time.perf_counter() - t0, 3)
        reps.append({"wall_s": dt, "calib": c,
                     "loadavg_1m": round(os.getloadavg()[0], 1)})
        print(f"# rep {len(reps)}: {dt}s at calib {c}", file=sys.stderr,
              flush=True)
        _stress_barrier(spark)
    print(json.dumps({
        "query": name,
        "calib_bar": bar,
        "reps": reps,
        "spiked_probes_waited_out": skipped,
        "min": min((r["wall_s"] for r in reps), default=None),
    }, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
