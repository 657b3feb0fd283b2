"""Full-surface timing sweep: min-of-N wall per catalog query at
the given sf_dir, slowest first — finds pathological outliers outside the
bench headline set.

Usage: python tools/sweep.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from opensanctions_spark.catalog import QUERIES, load
    from opensanctions_spark.session import get_session

    spark = get_session("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        try:
            load(spark, sf_dir, t)
        except Exception:
            pass

    results = []
    for name, fn in QUERIES.items():
        walls = []
        err = None
        for _ in range(reps):
            t0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001
                err = str(exc)[:80]
                break
            walls.append(time.time() - t0)
        if err:
            results.append((float("inf"), name, err))
            print(f"ERR {name}  {err}", flush=True)
        else:
            results.append((min(walls), name, ""))
            print(f"{min(walls):8.3f}  {name}", flush=True)
        spark.catalog.clearCache()

    results.sort(reverse=True)
    print("# ---- slowest first ----")
    for wall, name, err in results:
        print(f"{wall:8.3f}  {name}  {err}")
    total = sum(w for w, _, _ in results if w != float("inf"))
    print(f"# total {total:.1f}s over {len(results)} queries")


if __name__ == "__main__":
    main()
