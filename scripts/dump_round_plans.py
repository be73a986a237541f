"""Dump full ``explain("formatted")`` output for the queries an
optimization round touched into plans/<round>/<query>_<tag>.txt (the
round's before/after evidence).

Usage: python scripts/dump_round_plans.py <round> <before|after> q1 [q2 ...]
e.g.   python scripts/dump_round_plans.py r15 after d69 d74
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    round_name, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName(f"dump_{round_name}_plans")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    for name in names:
        if name not in qs:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        buf = io.StringIO()
        df = qs[name](spark, sf_dir)
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
