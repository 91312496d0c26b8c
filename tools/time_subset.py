"""Ad-hoc subset timer: time declared queries with the noop sink.

Usage: python tools/time_subset.py <sf_dir> <query> [<query> ...]
Each query runs 3x (construction + noop write timed together, guide
SS1.4); prints per-query min and all walls. No caching across runs.
"""
import os
import sys
import time

# import the engine from the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from claims_data_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("time-subset")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # warm-up action so JVM startup isn't billed to the first query
    spark.read.parquet(sf_dir + "/lineitem.parquet").count()
    for name in names:
        walls = []
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"subset:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(walls)} runs={walls}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
