"""Isolated per-entry timing: fresh JVM, warmup lap, then min of N warmed
laps with operator caches released between laps — the "isolated min-of-N"
protocol PARITY.md's perf deltas cite (full-lap bench numbers integrate
co-tenant load and GC from 200+ queries in one JVM; this is the
per-change accept/reject signal).

Usage: python tools/measure_entry.py <entry_name> [sf_dir] [laps]
Prints one JSON line {"entry", "laps", "min"}.
"""

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# workers resolve cloudpickled UDFs via PYTHONPATH, not driver sys.path
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))


def main() -> None:
    from pyspark.sql import SparkSession

    name = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    laps = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    if laps < 1:
        raise SystemExit("laps must be >= 1 (one untimed warmup always runs)")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from waimak_spark import catalog
    from waimak_spark.functions.cache_registry import release_tracked

    try:
        fn = catalog.entry_fn(name)
    except KeyError:
        raise SystemExit(f"unknown entry: {name}")
    times = []
    for i in range(laps + 1):  # lap 0 is the untimed warmup
        t0 = time.time()
        fn(spark, sf).collect()
        dt = time.time() - t0
        release_tracked()
        spark.catalog.clearCache()
        if i > 0:
            times.append(round(dt, 3))
    print(json.dumps({"entry": name, "laps": times, "min": min(times)}))


if __name__ == "__main__":
    main()
