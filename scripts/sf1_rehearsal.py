"""Run graded queries at the sf1 rehearsal scale (/tmp/sf1, 6M roads) and
report wall time plus total/peak shuffle volume — the 100x design-evidence
harness behind BENCH.md's "sf1 scale rehearsal" section.

Usage: python scripts/sf1_rehearsal.py q58_persona_v1_simplified [qNN ...]
       [--sf-dir /tmp/sf1] [--repeat 2]
Cores: SPARK_GRAFT_CPUS (default 32), as for session.get_spark.
"""
import argparse
import os
import sys
import time

sys.path.insert(0, ".")

from osm_processing_pipeline_spark import registry  # noqa: E402
from osm_processing_pipeline_spark import session as S  # noqa: E402
from osm_processing_pipeline_spark.datagen import world  # noqa: E402


def get_spark_with_ui(cores: int, shuffle_partitions: int):
    """get_spark's exact conf set, but with the UI enabled so the REST
    status API can report per-stage shuffle volumes."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sf1-rehearsal")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
    )
    if S._tmpfs_ok():
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in S.RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_stats(spark):
    """(total_shuffle_write_bytes, peak_stage_write_bytes) via the REST
    status API — the same counters the UI's stage page shows."""
    import json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return 0, 0
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages",
                                timeout=30) as r:
        stages = json.load(r)
    tot = peak = 0
    for s in stages:
        w = s.get("shuffleWriteBytes", 0)
        tot += w
        peak = max(peak, w)
    return tot, peak


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_with_ui(cores=cores, shuffle_partitions=2 * cores)
    t0 = time.time()
    n = world.roads_materialized(spark, args.sf_dir).count()
    print(f"world materialized: {n} roads in {time.time()-t0:.1f}s",
          flush=True)

    for name in args.queries:
        for i in range(args.repeat):
            tot0, _ = shuffle_stats(spark)
            t0 = time.time()
            df = registry.QUERIES[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            tot1, peak = shuffle_stats(spark)
            la = os.getloadavg()
            print(f"{name} run{i}: wall={wall:.1f}s rows_schema={len(df.columns)}c "
                  f"shuffle_delta={(tot1-tot0)/2**30:.2f}GiB "
                  f"peak_stage={peak/2**30:.2f}GiB loadavg={la[0]:.1f}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
