"""Run ONE declared entry query with the noop sink and print its wall
seconds per repeat. Usage:
    python tools/probe_entry_query.py <query> [sf_dir] [repeats]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

    import __spark_entry__ as entry
    from dedup.session import get_spark
    from dedup.tracking import drain_tracked

    spark = get_spark("probe-entry", master=f"local[{cpus}]", config=entry.CFG)
    spark.sparkContext.setLogLevel("ERROR")
    fn = entry.queries()[name]
    for i in range(repeats):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"TOTAL {name}#{i}: {time.time() - t0:.2f}s", file=sys.stderr)
        drain_tracked()
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
