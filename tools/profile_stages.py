"""Per-stage profiler: runs headline queries with the Spark UI
REST API enabled and attributes wall time to stages (executorRunTime,
shuffle bytes, task counts) so optimization targets the right operator.

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_stages.py [query ...]
Prints per query: min-of-N wall, then per-stage rows sorted by
executorRunTime with shuffle read/write bytes.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("PROFILE_REPS", "3"))


def main() -> None:
    from bench import HEADLINE
    from opensanctions_spark.catalog import QUERIES, load
    from opensanctions_spark.session import configure
    from pyspark.sql import SparkSession

    names = sys.argv[1:] or HEADLINE

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName("profile-stages").master(
        f"local[{cpus}]"
    )
    spark = (
        configure(builder)
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"

    def stages() -> dict[int, dict]:
        with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
            data = json.load(r)
        return {s["stageId"]: s for s in data}

    # warm relations + plans at sf0.001 like bench.py
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        try:
            load(spark, SF_DIR, t)
        except Exception:
            pass
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        if os.path.isdir(warm_dir):
            try:
                fn(spark, warm_dir).count()
            except Exception as exc:
                print(f"# warm {name} failed: {exc}", file=sys.stderr)
    spark.catalog.clearCache()

    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"# unknown {name}", file=sys.stderr)
            continue
        walls = []
        best_stages = None
        for rep in range(REPS):
            pre = set(stages())
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            n = df.count()
            wall = time.time() - t0
            walls.append(wall)
            if wall == min(walls):
                time.sleep(0.2)  # let the listener bus drain
                post = stages()
                best_stages = {k: v for k, v in post.items() if k not in pre}
        spark.sparkContext.setJobDescription(None)
        print(f"\n== {name}: rows={n} wall min={min(walls):.3f} "
              f"all={['%.3f' % w for w in walls]}")
        rows = sorted(
            best_stages.values(),
            key=lambda s: -s.get("executorRunTime", 0),
        )
        for s in rows:
            if s.get("executorRunTime", 0) < 1:
                continue
            print(
                f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>3} "
                f"run={s['executorRunTime']/1000:7.3f}s "
                f"cpu={s.get('executorCpuTime', 0)/1e9:7.3f}s "
                f"gc={s.get('jvmGcTime', 0)/1000:6.3f}s "
                f"deser={s.get('executorDeserializeTime', 0)/1000:6.3f}s "
                f"fetchWait={s.get('shuffleFetchWaitTime', 0)/1000:6.3f}s "
                f"wrTime={s.get('shuffleWriteTime', 0)/1e9:6.3f}s "
                f"shRead={s.get('shuffleReadBytes', 0)/1e6:8.2f}MB "
                f"shWrite={s.get('shuffleWriteBytes', 0)/1e6:8.2f}MB "
                f"in={s.get('inputBytes', 0)/1e6:8.2f}MB "
                f"spill={s.get('diskBytesSpilled', 0)/1e6:6.1f}MB "
                f"| {s.get('name', '')[:60]}"
            )


if __name__ == "__main__":
    main()
