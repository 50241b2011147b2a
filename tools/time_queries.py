"""Time a subset of the driver queries with bench.py-identical methodology
(clearCache between reps, .collect(), best-of-k) — for A/B work during the
optimization round without touching the frozen bench.py.

Usage: python tools/time_queries.py q1,q2,... [reps]
Env: SPARK_GRAFT_SF_DIR (default: bench.py's sf0.1 data directory),
     SPARK_GRAFT_CPUS (default: os.cpu_count()).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR  # noqa: E402  (honours SPARK_GRAFT_SF_DIR)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def main():
    only = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import __spark_entry__ as entry_mod

    from exactextractr_spark.session import get_spark

    spark = get_spark("time-queries", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    out = {}
    qs = entry_mod.queries()
    for name in only:
        fn = qs[name]
        samples = []
        # one untimed warmup rep so py-worker startup / parquet footers are
        # excluded, matching bench.py's post-headline warm state
        spark.catalog.clearCache()
        fn(spark, SF_DIR).collect()
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, SF_DIR).collect()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"best": min(samples), "samples": samples}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
