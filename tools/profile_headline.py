"""Optimization-round profiler (guide §1: measure first).

For each headline bench query (or any --queries list), decomposes one
bench iteration into:

  build   DataFrame construction (driver-side: parquet footer reads,
          py4j expression building — no job runs)
  noop    df.write.format("noop") — computes every column of every row,
          no driver collect, no extra aggregate (guide §1.4)
  bench   bench.py's ``materialize`` action — what BENCH_rNN.json times

The headline list, the warm-up and the action are bench.py's own.

Usage:
  python tools/profile_headline.py [--n 3] [--tag before] [--queries a,b,c]
                                   [--sf DIR] [--round r15] [--executed]

--n 0 skips the timings. --round writes `.explain("formatted")` to
plans/<round>/<name>_<tag>.txt; without it no plan is written.
--executed additionally runs each query once and appends the POST-RUN
plan (AQE final plan: ReusedExchange / AQEShuffleRead visible) to the
dump — the static explain only shows isFinalPlan=false.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import HEADLINE, materialize, warm_up
from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--round", default=None)
    ap.add_argument("--executed", action="store_true")
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else HEADLINE
    spark = get_session("profile")
    qs = queries()
    warm_up(spark, args.sf)

    out = {}
    for name in names:
        fn = qs[name]
        builds, noops, benches = [], [], []
        for _ in range(args.n):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"{name}: noop")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"{name}: bench-action")
            df2 = fn(spark, args.sf)
            t3 = time.perf_counter()
            materialize(df2)
            t4 = time.perf_counter()
            spark.sparkContext.setJobDescription(None)
            builds.append(t1 - t0)
            noops.append(t2 - t1)
            benches.append(t4 - t3)
        rec = {
            "build": round(min(builds, default=0.0), 3),
            "noop": round(min(noops, default=0.0), 3),
            "bench": round(min(benches, default=0.0), 3),
        }
        out[name] = rec
        print(f"# {name}: build={rec['build']} noop={rec['noop']} bench={rec['bench']}", file=sys.stderr)
        if args.round:
            df = fn(spark, args.sf)
            text = _explain(df)
            if args.executed:
                # collect() runs THIS DataFrame's QueryExecution, so the
                # subsequent explain shows the AQE final plan (a noop
                # write would execute a separate wrapping QE instead)
                df.collect()
                text += "\n== Post-run (AQE final) plan ==\n" + _explain(df)
            plans_dir = ROOT / "plans" / args.round
            plans_dir.mkdir(parents=True, exist_ok=True)
            (plans_dir / f"{name}_{args.tag}.txt").write_text(text)
    print(json.dumps({"sf": args.sf, "n": args.n, "timings": out}))


if __name__ == "__main__":
    main()
