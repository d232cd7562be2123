"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload reactive --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's layers in spans, switches the Spark event log on, and prints
the per-layer metrics instead, plus a tracing-overhead line against the
last untraced run of the same workload. Metric definitions and the
layer map are in perfbench/NOTES.md.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from statistics import fmean, geometric_mean, median  # noqa: E402

import harness  # noqa: E402
from harness import metric  # noqa: E402

E2E = ("setup_s", "first_result_s", "latency_s", "throughput_per_s", "peak_rss_mb")


def end_to_end(workload: str, r: dict) -> dict:
    if workload == "batch":
        # The keys differ by 10x in cost, so a median over them is the
        # mean of the two middle keys; the geometric mean weighs every
        # key's relative change alike.
        latency = geometric_mean(r["per_key"].values())
        throughput = r["warm_queries"] / r["warm_wall"]
        # The cold pass is one sample per key; its plain mean is carried
        # by the heavy keys and reads steadier than a per-key statistic.
        first = fmean(r["first"].values())
    else:
        latency = median(r["latencies"])
        throughput = r["datoms"] / r["wall"]
        # The last set-up's replay: fresh session, server and seed on a
        # warm JVM. The first replay after the JVM launch swings with
        # JIT timing; it stays inside setup_s.
        first = r["first_diff_s"][-1]
    return {
        "setup_s": metric(median(r["setup_s"]), "s"),
        "first_result_s": metric(first, "s"),
        "latency_s": metric(latency, "s"),
        "throughput_per_s": metric(throughput, "1/s"),
        "peak_rss_mb": metric(r["peak_rss_mb"], "MB"),
    }


def _p50(per_tag: dict, tags: list[str]) -> float:
    return median([per_tag.get(t, 0.0) for t in tags]) if tags else 0.0


def per_layer(workload: str, r: dict, tracer, groups: dict) -> dict:
    import batch
    import tracing

    out: dict[str, dict] = {}
    if workload == "batch":
        tags = list(r["tags"])
        walls = tracer.per_tag("batch.query")
    else:
        tags = r["tags"]
        walls = dict(zip(tags, r["latencies"]))

    def span_s(name: str, span: str) -> None:
        out[name] = metric(_p50(tracer.per_tag(span), tags), "s")

    # set-up phases, median over the set-ups of the run
    for phase in ("session", "seed", "register", "warm"):
        out[f"setup.{phase}_s"] = metric(
            median([p[phase] for p in r["phases"]]), "s"
        )

    # server, streaming.reactive, streaming.incremental, engine
    handle = tracer.per_tag("server.handle")
    span_s("server.handle_s", "server.handle")
    out["server.transport_s"] = metric(
        _p50({t: walls.get(t, 0.0) - handle.get(t, 0.0) for t in tags}, tags)
        if workload != "batch"
        else 0.0,
        "s",
    )
    out["server.diff_rows"] = metric(
        median(r["diff_rows"]) if workload != "batch" else 0.0, "count"
    )
    span_s("reactive.advance_s", "reactive.advance")
    span_s("reactive.emit_s", "reactive.emit")
    span_s("reactive.incremental_s", "reactive.incremental")
    span_s("reactive.recompute_s", "reactive.recompute")
    span_s("incremental.deltajoin_s", "incremental.deltajoin")
    compact = tracer.counter_per_tag("incremental.compact")
    out["incremental.compact_epochs"] = metric(
        sum(1 for t in tags if compact.get(t)), "count"
    )
    out["incremental.state_rows"] = metric(r.get("state_rows", 0), "count")
    span_s("engine.transact_s", "engine.transact")
    span_s("engine.advance_traces_s", "engine.advance_traces")
    span_s("engine.interest_s", "engine.interest")

    # plan.compiler
    span_s("plan.compile_s", "plan.compile")
    out["plan.compile_calls"] = metric(
        _p50(tracer.calls_per_tag("plan.compile"), tags), "count"
    )

    # the declared query functions (__spark_entry__.queries())
    span_s("batch.build_s", "batch.build")
    out["batch.build_jobs"] = metric(
        _p50(tracing.field_by_tag(groups, "jobs", "build"), tags), "count"
    )
    span_s("batch.plan_s", "batch.plan")
    span_s("batch.exec_s", "batch.exec")
    for key in batch.KEYS:
        out[f"batch.q.{key}_s"] = metric(r.get("per_key", {}).get(key, 0.0), "s")

    # spark, per epoch or query
    folded = tracing.by_tag(groups)
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "task_skew": "ratio"}
    for field in tracing.SPARK_FIELDS:
        unit = units.get(field, "B" if field.endswith("bytes") else "s")
        idle = 1.0 if field == "task_skew" else 0.0  # a tag with no jobs
        values = {t: folded.get(t, {}).get(field, idle) for t in tags}
        out[f"spark.{field}"] = metric(_p50(values, tags), unit)
    out["spark.driver_s"] = metric(
        _p50(
            {t: walls.get(t, 0.0) - folded.get(t, {}).get("job_s", 0.0) for t in tags},
            tags,
        ),
        "s",
    )
    for path, label in (("inc", "incremental"), ("rec", "recompute")):
        for field, unit in (("jobs", "count"), ("shuffle_write_bytes", "B")):
            out[f"spark.{label}.{field}"] = metric(
                _p50(tracing.field_by_tag(groups, field, path), tags), unit
            )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["reactive", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--size", choices=["full", "smoke"], default="full",
        help="smoke: the tiny sizes perfbench/smoke.py runs",
    )
    ap.add_argument(
        "--plant-wrong-diff", action="store_true",
        help="corrupt one output, so the output check must fail",
    )
    args = ap.parse_args(argv)

    harness.require_program()
    traced = bool(args.trace)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    event_dir = harness.WORK / "events" / run_id if traced else None
    harness.prepare_env(event_dir)

    import tracing

    tracer = tracing.Tracer(enabled=traced)
    if traced:
        # Import every layer first so each name compile_plan is bound
        # under gets patched.
        import __spark_entry__  # noqa: F401
        import declarative_dataflow_spark.server  # noqa: F401
        import declarative_dataflow_spark.streaming.reactive  # noqa: F401

        tracing.install(tracer)

    if args.workload == "batch":
        import batch as workload

        cfg = workload.Config()
        if args.size == "smoke":
            cfg = workload.Config(factor=1, keys=workload.KEYS[:3], setups=1)
    else:
        import reactive as workload

        cfg = workload.Config()
        if args.size == "smoke":
            cfg = workload.Config(
                nodes=400, edges=2000, setups=1, min_epochs=3, max_epochs=3
            )
    cfg.plant_wrong_diff = args.plant_wrong_diff
    spark = None
    try:
        r = workload.run(args.seed, args.seconds, cfg, tracer, STARTED)
        spark = r["spark"]
    finally:
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        tracer.restore()

    e2e = end_to_end(args.workload, r)
    last = harness.WORK / f"last-{args.workload}-{args.size}.json"
    harness.emit_line({"context": r["context"], "errors": r["errors"],
                       "mismatched": r["mismatched"]})
    if traced:
        groups = tracing.parse_event_log(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        spans = harness.WORK / f"spans-{run_id}.jsonl"
        tracer.write(spans)
        metrics = per_layer(args.workload, r, tracer, groups)
        overhead = None
        if last.exists():
            base = json.loads(last.read_text())
            overhead = {
                k: e2e[k]["value"] - base["metrics"][k]["value"] for k in E2E
            }
        harness.emit_line(
            {
                "tracing_overhead": overhead,
                "traced": {k: v["value"] for k, v in e2e.items()},
                "untraced_seed": json.loads(last.read_text())["seed"]
                if last.exists()
                else None,
                "spans": str(spans.relative_to(harness.ROOT)),
            }
        )
    else:
        metrics = e2e
        last.write_text(json.dumps({"seed": args.seed, "metrics": e2e}))
    harness.emit_line(
        {
            "correct": r["failed"] == 0,
            "attempted": int(r["attempted"]),
            "failed": int(r["failed"]),
            "metrics": metrics,
        }
    )
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        code = 1
    sys.exit(code)
