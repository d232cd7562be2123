"""Isolated per-query profiler for declared queries.

Usage:
    python tools/profile_query.py <query> [query ...] [--sf DIR] [--plans SUFFIX]

For each named query (a key of __spark_entry__.queries()):
  - captures .explain("formatted") to plans/<query>_<SUFFIX>.txt
    when --plans is given (e.g. --plans before / --plans after)
  - times the query with the bench's own action (.count()) min-of-2
    after one untimed warmup of the host probe, and with the noop
    sink (guide §1.4, full-column evaluation) min-of-2
  - prints one JSON line per query with both numbers.

Isolated, label-set (guide §1.5), GC between runs (bench discipline).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    plans_suffix = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--plans":
            plans_suffix = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from declarative_dataflow_spark.session import build_session

    spark = build_session("profile")
    import bench
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # same warmup the bench does
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    for warm in ("match_ea", "agg_min"):
        if warm in qs:
            qs[warm](spark, sf_dir).count()
    probe = bench.host_speed_probe(spark)
    print(json.dumps({"host_probe": probe, "sf_dir": sf_dir}), flush=True)

    plans_dir = "plans"
    os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        if name not in qs:
            print(json.dumps({"query": name, "error": "unknown"}), flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if plans_suffix:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

        def once_count() -> float:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            return round(time.perf_counter() - t0, 3)

        def once_noop() -> float:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 3)

        c = [once_count(), once_count()]
        n = [once_noop(), once_noop()]
        print(
            json.dumps(
                {
                    "query": name,
                    "count_s": min(c),
                    "count_both": c,
                    "noop_s": min(n),
                    "noop_both": n,
                }
            ),
            flush=True,
        )
    post = bench.host_speed_probe(spark)
    print(json.dumps({"host_probe_post": post}), flush=True)


if __name__ == "__main__":
    main()
