#!/usr/bin/env python3
"""Extra benchmarks for the optimization rounds (bench.py is FROZEN for
measurement; everything exploratory lives here).

Usage:
  python bench_extra.py queries [name ...]   # min-of-2 noop-sink timing
  python bench_extra.py plans  [name ...]    # .explain("formatted") dump

Timing methodology matches bench.py (min of 2 wall-clock runs of
construct+execute) but sinks through noop (guide §1.4) instead of
count() so every column of every row is computed, and labels each job
(guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from tippecanoe_spark.session import get_spark

    spark = get_spark(app="bench-extra", master=f"local[{CPUS}]")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _warm(spark):
    import __spark_entry__ as entrymod

    spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    # one arrow/pandas-UDF touch so worker pool + serializers are warm
    entrymod.queries()["token_count"](spark, SF_DIR).write.format(
        "noop").mode("overwrite").save()


def cmd_queries(names):
    import __spark_entry__ as entrymod

    spark = _spark()
    _warm(spark)
    qs = entrymod.queries()
    out = {}
    for name in names:
        fn = qs[name]
        best = None
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def cmd_plans(names, outdir="plans/r06", suffix="before"):
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        p = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote {p}", file=sys.stderr)
    spark.stop()


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        return
    cmd = sys.argv[1]
    args = sys.argv[2:]
    if cmd == "queries":
        cmd_queries(args)
    elif cmd == "plans":
        suffix = "before"
        if args and args[0] in ("--after",):
            suffix = "after"
            args = args[1:]
        cmd_plans(args, suffix=suffix)
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
