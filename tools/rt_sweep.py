"""py4j round-trip sweep: counts driver->JVM commands paid by each
catalog entry's CONSTRUCTION (fn(spark, sf_dir) up to returning its
DataFrame — including any driver-side collect jobs the operator's loop
runs).

The count is NOT deterministic.  The counter sees every command sent
from any thread, including py4j's proxy releases (``m d``), which its
finalizer thread sends asynchronously whenever Python drops JVM
references.  How many of those land inside an entry's window depends on
garbage collection timing and host load, so two sweeps of unchanged code
can differ by thousands.  For a stable per-call count, skip the releases
and count only the calling thread (``tests/test_storage.py::
_py4j_commands``), after settling the finalizer queue
(``tests/test_parquet_schema.py::_settle``).

Usage: python tools/rt_sweep.py [entry ...]   (default: whole catalog)
Prints one JSON line per entry {"entry", "rts"} and a total.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))

_COUNT = {"n": 0}


def _install_counter() -> None:
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def patched(self, *a, _orig=orig, **kw):
            _COUNT["n"] += 1
            return _orig(self, *a, **kw)

        cls.send_command = patched


def main() -> None:
    _install_counter()
    from pyspark.sql import SparkSession

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from waimak_spark import catalog
    from waimak_spark.functions.cache_registry import release_tracked

    names = sys.argv[1:] or list(catalog.ALL_ENTRIES)
    # warm the parse/analysis caches once so entry 1 doesn't absorb
    # session-setup round trips the others skip
    spark.read.parquet(f"{sf}/region.parquet").count()
    out = {}
    for name in names:
        try:
            fn = catalog.entry_fn(name)
        except KeyError:
            raise SystemExit(f"unknown entry: {name}")
        before = _COUNT["n"]
        fn(spark, sf)
        out[name] = _COUNT["n"] - before
        release_tracked()
        spark.catalog.clearCache()
        print(json.dumps({"entry": name, "rts": out[name]}))
    print(json.dumps({"total": sum(out.values()), "n_entries": len(out)}))


if __name__ == "__main__":
    main()
