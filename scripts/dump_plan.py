"""Print the formatted physical plan of ``__spark_entry__`` queries.

Usage: python scripts/dump_plan.py [--sf-dir DIR] <query> [<query> ...]

Each query is built over the parquet tables in DIR (default: the
``SPARK_GRAFT_SF_DIR`` environment variable) and its
``explain("formatted")`` text is printed under a ``== <query> ==`` header.
Building a query may run the Spark jobs its plan depends on (checkpoints,
driver-side collects); the printed plan is the one an action would run.
"""

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Print the formatted physical plan of entry queries.")
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="directory of the input parquet tables "
                         "(default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    import __spark_entry__ as entry
    from waka_spark.session import get_spark

    qs = entry.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    spark = get_spark("dump_plan")
    for name in args.queries:
        df = qs[name](spark, args.sf_dir)
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        print(f"== {name} ==\n{plan}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
