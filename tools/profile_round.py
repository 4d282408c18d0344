"""Optimization measurement harness for one round of work.

Usage: ``python tools/profile_round.py ROUND (--plans | --time) [names...]``,
where ``ROUND`` names the plan-dump directory and the Spark app (for
example ``r16``). Two modes:

* ``--plans [names...]`` — build each query at sf0.1 and save
  ``.explain("formatted")`` to ``plans/<ROUND>/<name>_<tag>.txt`` (tag =
  ``before``/``after`` via ``--tag``). Build-time side effects (eager
  probes, index commits) run, nothing else is executed.
* ``--time [names...]`` — bench-methodology timing: warm each query once
  at sf0.001 into the noop sink, then N timed runs at sf0.1 (plan
  construction inside the timer, per-query clearCache, best-of-N
  reported). Matches bench.py run_once exactly.

Defaults to the frozen HEADLINE list. Shares the bench session conf.
"""
from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dativo_ingest_spark import get_spark  # noqa: E402
from dativo_ingest_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans")


def _spark(cpus: str, round_name: str):
    spark = get_spark(
        f"{round_name}-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version":
                "2",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def capture_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", help="round name, e.g. r16: the plan-dump "
                    "directory under plans/ and the Spark app name")
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import bench
    names = args.names or bench.HEADLINE
    spark = _spark(args.cpus, args.round)
    plans_dir = os.path.join(PLANS_ROOT, args.round)

    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            spark.sparkContext.setJobDescription(f"plan: {name}")
            spark.catalog.clearCache()
            try:
                df = QUERIES[name].fn(spark, SF_DIR)
                text = capture_plan(df)
            except Exception as ex:  # noqa: BLE001
                text = f"ERROR {type(ex).__name__}: {ex}"
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            n_ex = text.count("Exchange")
            joins = [w for w in ("BroadcastHashJoin", "SortMergeJoin",
                                 "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                                 "CartesianProduct") if w in text]
            py = [w for w in ("BatchEvalPython", "ArrowEvalPython",
                              "MapInPandas", "MapInArrow") if w in text]
            print(f"PLAN {name}: exchanges~{n_ex} joins={joins} py={py}",
                  flush=True)

    if args.time:
        timings: dict[str, list[float]] = {}
        for name in names:  # warm pass, sf0.001
            spark.sparkContext.setJobDescription(f"warm: {name}")
            try:
                QUERIES[name].fn(spark, "/root/testdata/sf0.001").write.format(
                    "noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001
                print(f"WARM-FAIL {name}: {ex}", flush=True)
        spark.catalog.clearCache()
        for name in names:
            runs = []
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"time: {name}")
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = QUERIES[name].fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            timings[name] = runs
            print(f"TIME {name}: best={min(runs)} runs={runs}", flush=True)
        print(json.dumps({n: min(r) for n, r in timings.items()}))


if __name__ == "__main__":
    main()
