"""Optimization evidence: write `.explain("formatted")` output for
headline queries to <out_dir>/<query>_<tag>.txt.

Usage: python tools/explain.py <out_dir> <tag> [sf_dir] [query ...]
  out_dir: e.g. plans/r15 (created if missing)
  tag: "before" or "after" (file suffix)
  sf_dir default /root/testdata/sf0.1
  queries default: the bench HEADLINE list
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    from bench import HEADLINE
    from opensanctions_spark.catalog import QUERIES
    from opensanctions_spark.session import get_session

    names = sys.argv[4:] or HEADLINE
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session("explain")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} @ {sf_dir} ({tag}) ==\n\n")
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
