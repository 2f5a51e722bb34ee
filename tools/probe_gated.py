"""Matched-calib probe (VERDICT r12 #2/#3): collect N reps of a query
at sf0.1, each taken ONLY when an immediately-preceding calib probe
reads <= the target band (default 0.47 s — the historical idle band is
0.36-0.45). Between attempts it sleeps, so the probe waits out load
spikes instead of measuring through them. Usage:

    python tools/probe_gated.py <query> [n_reps] [calib_bar]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _calib_probe, _calib_probe_mc, _stress_barrier
from blueetl_spark.queries import QUERIES
from blueetl_spark.session import get_spark


def main() -> None:
    name = sys.argv[1]
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    bar = float(sys.argv[3]) if len(sys.argv) > 3 else 0.47
    budget_s = float(os.environ.get("PROBE_BUDGET_S", 900))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="probe_gated")

    from blueetl_spark.sources import tables

    for t in tables.TABLES:
        try:
            tables.load(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001
            pass
    # one unmeasured warm-up run: codegen + shuffle-file setup are not
    # what the cross-round record measures (its min rides later passes)
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    _stress_barrier(spark)

    bar_mc = float(os.environ.get("PROBE_MC_BAR", 0.6))
    reps, skipped = [], 0
    t_start = time.perf_counter()
    while len(reps) < n_reps and time.perf_counter() - t_start < budget_s:
        c = _calib_probe(spark)
        cm = _calib_probe_mc(spark)
        if c > bar or cm > bar_mc:
            skipped += 1
            print(
                f"# calib {c} (bar {bar}) / mc {cm} (bar {bar_mc}), waiting",
                file=sys.stderr, flush=True,
            )
            time.sleep(3)
            continue
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        reps.append({"wall_s": dt, "calib": c, "calib_mc": cm,
                     "loadavg_1m": round(os.getloadavg()[0], 1)})
        print(f"# rep {len(reps)}: {dt}s at calib {c} / mc {cm}",
              file=sys.stderr, flush=True)
        _stress_barrier(spark)
    out = {
        "query": name,
        "sf_dir": sf_dir,
        "calib_bar": bar,
        "reps": reps,
        "spiked_probes_waited_out": skipped,
        "min": min((r["wall_s"] for r in reps), default=None),
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
