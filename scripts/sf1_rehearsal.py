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


def shuffle_stats(spark):
    """(total_shuffle_write_bytes, peak_stage_write_bytes) over every stage
    in the live status store — populated with the UI disabled.  Py4J cannot
    see Scala default arguments, so stageList gets all five explicitly."""
    sc = spark.sparkContext
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    tot = peak = 0
    it = stages.iterator()
    while it.hasNext():
        w = it.next().shuffleWriteBytes()
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
    spark = S.get_spark("sf1-rehearsal", cores=cores, shuffle_partitions=2 * cores)
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
                  f"shuffle_delta={(tot1-tot0)/2**20:.1f}MiB "
                  f"peak_stage={peak/2**20:.1f}MiB loadavg={la[0]:.1f}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
