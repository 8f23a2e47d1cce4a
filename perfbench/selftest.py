#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Self-check of the benchmark's sinks: they must pay for a Python-UDF
column that ``.count()`` prunes, so no change can look faster by
letting Catalyst drop work the user would see.

    python3 perfbench/selftest.py

A pandas UDF sleeps ``DELAY_S`` per Arrow batch. ``.count()`` never
calls it (the column is pruned from the plan); the ``noop`` sink and
the fingerprint sink both must. Exits 1 when either sink finishes
faster than the UDF's own sleep, or when ``.count()`` did not prune it
(then the check proves nothing).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    HostError, check_host, fingerprint, noop_sink, start_session,
    stop_processes,
)

DELAY_S = 2.0


def main() -> int:
    try:
        facts = check_host(2, 2.0)
    except HostError as e:
        print("selftest: refusing to run: %s" % e, file=sys.stderr)
        return 2
    import pandas as pd
    from pyspark.sql import functions as F

    spark = start_session(facts)
    try:
        @F.pandas_udf("long")
        def slow(x: pd.Series) -> pd.Series:
            time.sleep(DELAY_S)
            return x * 2

        n = facts["cores"]
        # one Arrow batch per partition, all partitions in parallel:
        # a sink that runs the UDF takes at least DELAY_S
        df = spark.range(20_000 * n, numPartitions=n).withColumn(
            "u", slow("id"))
        noop_sink(df)  # warm the Python workers outside the timings
        timings = {}
        for name, sink in (("count", lambda: df.count()),
                           ("noop", lambda: noop_sink(df)),
                           ("fingerprint",
                            lambda: fingerprint(df, ["id", "u"]))):
            t0 = time.perf_counter()
            sink()
            timings[name] = time.perf_counter() - t0
        counted = df.groupBy().count()._jdf.queryExecution() \
            .optimizedPlan().toString()
    finally:
        stop_processes()

    for name, secs in timings.items():
        print("%-12s %.3f s" % (name, secs))
    failures = []
    if "ArrowEvalPython" in counted or timings["count"] >= DELAY_S:
        failures.append(".count() kept the UDF, so the check proves nothing")
    for name in ("noop", "fingerprint"):
        if timings[name] < DELAY_S:
            failures.append("%s sink skipped the UDF (%.3f s < %.1f s)"
                            % (name, timings[name], DELAY_S))
    for f in failures:
        print("FAIL: " + f)
    print("selftest %s" % ("FAILED" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
