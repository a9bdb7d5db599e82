"""Seeded end-to-end benchmark of the CDC engine and the query library.

    python3 perfbench/run.py --workload {cdc,query_mix} --seed N --seconds S --trace {0,1} [--smoke]

Builds its inputs from ``--seed``, runs the workload on ``local[nproc]``,
checks every output against an independent oracle and prints, as the
last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The end-to-end times are
wall times less the CPU time the hypervisor withheld from this VM while
they ran. Earlier lines print every headline metric by name with its
unit. Result and span files go to
``.perfbench-run/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench-run")
WORKLOADS = ("cdc", "query_mix")
CEILING_MAX_AGE_S = 1800.0

END_TO_END = [("setup_s", "s"), ("work_s", "s")]
PER_LAYER = [
    ("session.start_s", "s"), ("inputs.gen_s", "s"), ("peak_rss_mb", "MB"),
    ("host.stolen_share", "ratio"),
    ("engine.calls", "count"), ("engine.self_s", "s"), ("harness.self_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_bytes", "bytes"), ("spark.task_skew", "ratio"),
    ("cdc.apply.calls", "count"), ("cdc.apply.jobs_per_call", "count"),
    ("cdc.apply.stages_per_call", "count"),
    ("cdc.apply.spool_share", "ratio"), ("cdc.apply.stats_share", "ratio"),
    ("cdc.apply.census_share", "ratio"), ("cdc.apply.write_share", "ratio"),
    ("cdc.apply.commit_share", "ratio"), ("cdc.apply.compact_share", "ratio"),
    ("cdc.apply.written_ratio", "ratio"), ("cdc.apply.hot_keys", "count"),
    ("cdc.apply.shuffle_bytes", "bytes"), ("cdc.apply.write_task_skew", "ratio"),
    ("cdc.stream.trigger_floor_share", "ratio"),
    ("cdc.table.compactions", "count"), ("cdc.table.files_added", "count"),
    ("cdc.table.live_files_end", "count"), ("cdc.table.bytes_per_event", "bytes"),
    ("cdc.table.read_final.files_read", "count"), ("cdc.table.read_final.jobs", "count"),
    ("cdc.table.read_final.shuffle_bytes", "bytes"),
    ("cdc.table.read_key.files_read", "count"), ("cdc.table.read_key.prune_ratio", "ratio"),
    ("cdc.table.read_key.jobs_per_call", "count"),
    ("cdc.table.read_changes.files_read", "count"),
    ("cdc.cdf_source.triggers", "count"), ("cdc.cdf_source.rows_per_s", "1/s"),
    ("cdc.scaling.spool_ratio", "ratio"), ("cdc.scaling.stats_ratio", "ratio"),
    ("cdc.scaling.write_ratio", "ratio"), ("cdc.scaling.apply_ratio", "ratio"),
    ("query.calls", "count"), ("query.jobs", "count"), ("query.tasks", "count"),
    ("streaming.engine_share", "ratio"), ("streaming.triggers", "count"),
]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, same code path (the self-test uses it)")
    return ap.parse_args(argv)


def start_session(cpus: int, work: str, trace: bool):
    from audience_behavior_semantic_etl_spark.session import get_spark
    from perfbench.host import spark_conf

    return get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
                     extra_conf=spark_conf(work, trace))


def _event_layers(ctx, window, log_dir: str) -> None:
    """Layer numbers that come from the Spark event log, attributed to
    spans by job submission time."""
    from perfbench.trace import EventLog, covered, self_times

    ev = EventLog(log_dir)
    L, spans = ctx.layers, ctx.tracer.spans
    jobs = ev.jobs_in(*window)
    c = ev.counts(jobs)
    L["spark.jobs"], L["spark.stages"], L["spark.tasks"] = (
        (c["jobs"], "count"), (c["stages"], "count"), (c["tasks"], "count"))
    L["spark.shuffle_bytes"] = (c["shuffle_bytes"], "bytes")
    L["spark.task_skew"] = (ev.skew(jobs, ctx.cpus), "ratio")

    def per_call(name: str) -> list[dict]:
        return [ev.counts(ev.jobs_in(s.start, s.end))
                for s in spans if s.name == name and s.start >= window[0]]

    applies = per_call("cdc.apply.apply_batch")
    if applies:
        L["cdc.apply.jobs_per_call"] = (statistics.median(a["jobs"] for a in applies), "count")
        L["cdc.apply.stages_per_call"] = (statistics.median(a["stages"] for a in applies), "count")
    replay = [s for s in spans if s.name == "cdc.stream.run_wal_stream"]
    if replay:
        rj = ev.jobs_in(replay[0].start, replay[0].end)
        L["cdc.apply.shuffle_bytes"] = (ev.counts(rj)["shuffle_bytes"], "bytes")
        L["cdc.apply.write_task_skew"] = (ev.heaviest_stage_skew(rj), "ratio")
    finals = per_call("cdc.table.read_final")
    if finals:
        L["cdc.table.read_final.jobs"] = (statistics.median(f["jobs"] for f in finals), "count")
        L["cdc.table.read_final.shuffle_bytes"] = (
            statistics.median(f["shuffle_bytes"] for f in finals), "bytes")
    keys = per_call("cdc.table.read_key")
    if keys:
        L["cdc.table.read_key.jobs_per_call"] = (statistics.median(k["jobs"] for k in keys), "count")
    queries = [s for s in spans if s.name.startswith("query.q_")]
    if queries:
        qc = [ev.counts(ev.jobs_in(s.start, s.end)) for s in queries]
        L["query.calls"] = (len(queries), "count")
        L["query.jobs"] = (sum(q["jobs"] for q in qc), "count")
        L["query.tasks"] = (sum(q["tasks"] for q in qc), "count")
        for s, q in zip(queries, qc):
            L[f"{s.name}.jobs"] = (q["jobs"], "count")
            L[f"{s.name}.tasks"] = (q["tasks"], "count")

    engine = [s for s in spans if s.start >= window[0] and s.end <= window[1]
              and (s.name.startswith("query.q_") or (s.name.startswith("cdc.")
                   and not s.name.startswith("cdc.gen_spark")))]
    st = self_times(spans)
    L["engine.calls"] = (len(engine), "count")
    L["engine.self_s"] = (sum(st[s.id] for s in engine), "s")
    L["harness.self_s"] = (
        (window[1] - window[0]) - covered([(s.start, s.end) for s in engine]), "s")
    for s in spans:
        key = f"span.{s.name}.self_s"
        L[key] = (L.get(key, (0.0,))[0] + st[s.id], "s")


def _less_stolen(call: tuple[float, float], stolen_share) -> float:
    """A call's wall time less the share the hypervisor withheld from this
    VM's busy CPUs during it."""
    return (call[1] - call[0]) * (1.0 - stolen_share(*call))


def _timed(res: dict, stolen_share) -> tuple[float, list[float]]:
    """``work_s`` (the median group's summed calls) and the latency samples
    (each the median of its calls) from a workload's timed calls."""
    work = statistics.median(sum(_less_stolen(c, stolen_share) for c in group)
                             for group in res["work"])
    return work, [statistics.median(_less_stolen(c, stolen_share) for c in calls)
                  for calls in res["latency"]]


def _history() -> list[dict]:
    path = os.path.join(STATE, "out", "history.jsonl")
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "audience_behavior_semantic_etl_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: the engine sources are not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.common import Ctx, pct
    from perfbench.trace import Tracer

    others = host.wait_for_quiet_host(timeout=60.0)
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); "
              "refusing to measure", file=sys.stderr)
        return 3
    cpus = host.nproc()
    work = host.prepare_env(STATE, ROOT, cpus)
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    record = host.host_record(cpus, args.seed)
    if not args.smoke:
        record["ceiling_before"] = host.machine_ceiling(ROOT, STATE, CEILING_MAX_AGE_S)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    ctx = None
    try:
        with host.HostSampler() as hs:
            with tracer.span("session.start") as start_span:
                spark = start_session(cpus, work, bool(args.trace))
            ctx = Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed,
                      seconds=args.seconds, cpus=cpus, trace=bool(args.trace), smoke=args.smoke)
            ctx.layers["session.start_s"] = (start_span.dur, "s")
            if args.workload == "cdc":
                from perfbench import cdc_workload as wl
            else:
                from perfbench import query_workload as wl
            res = wl.run(ctx)
            if args.trace and args.workload == "cdc":
                wl.scaling(ctx, lambda n: start_session(n, work, False), host.stop_spark)
            host.stop_spark(ctx.spark)
            ctx.spark = None
        work_s, latency = _timed(res, hs.stolen_share)
        raw_work_s, raw_latency = _timed(res, lambda a, b: 0.0)
        e2e = {
            "setup_s": sum(_less_stolen(c, hs.stolen_share)
                           for c in [(start_span.start, start_span.end), *ctx.setup]),
            "work_s": work_s,
        }
        ctx.detail["latency_gmean_s"] = (statistics.geometric_mean(latency), "s")
        ctx.detail["latency_p50_s"] = (pct(latency, 50), "s")
        ctx.detail["latency_p90_s"] = (pct(latency, 90), "s")
        ctx.detail["stolen_share"] = ctx.layers["host.stolen_share"] = (
            hs.stolen_share(*res["window"]), "ratio")
        ctx.detail["wall_work_s"] = (raw_work_s, "s")
        ctx.detail["wall_latency_gmean_s"] = (statistics.geometric_mean(raw_latency), "s")
        ctx.detail["peak_rss_mb"] = ctx.layers["peak_rss_mb"] = (hs.peak_bytes / 2**20, "MB")
        led = ctx.ledger
        ctx.detail["ops_failed_ratio"] = (led.failed / max(1, led.attempted), "ratio")
        if args.trace:
            _event_layers(ctx, res["window"], os.path.join(work, "eventlog"))
            untraced = [h["work_s"] for h in _history()
                        if h["workload"] == args.workload and not h["trace"] and not h["smoke"]]
            if untraced:
                base = statistics.median(untraced)
                ctx.detail["trace_overhead_share"] = ((work_s - base) / base, "ratio")
            tracer.dump(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
            if not args.smoke:
                record["ceiling_after"] = host.machine_ceiling(ROOT, STATE, 0.0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx is not None and ctx.spark is not None:
            host.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    led = ctx.ledger
    metrics = (
        {n: {"value": float(ctx.layers.get(n, (0.0, u))[0]), "unit": u} for n, u in PER_LAYER}
        if args.trace else
        {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    )
    result = {"correct": led.failed == 0, "attempted": led.attempted, "failed": led.failed,
              "metrics": metrics}
    full = {"workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
            "smoke": args.smoke, "seconds": args.seconds, "host": record,
            "work_s": work_s, "end_to_end": e2e,
            "detail": {k: {"value": v, "unit": u} for k, (v, u) in ctx.detail.items()},
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in ctx.layers.items()},
            "failures": led.failures}
    with open(os.path.join(out_dir, f"result-{run_id}.json"), "w") as f:
        json.dump(full, f, indent=1)
    with open(os.path.join(out_dir, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "trace": bool(args.trace),
                            "smoke": args.smoke, "work_s": work_s}) + "\n")
    print(f"perfbench host {json.dumps(record)}")
    for name, (value, unit) in sorted(ctx.detail.items()):
        print(f"perfbench metric {args.workload} {name} {value:.6g} {unit}")
    if args.trace:
        for name, (value, unit) in sorted(ctx.layers.items()):
            print(f"perfbench layer {args.workload} {name} {value:.6g} {unit}")
    for what in led.failures:
        print(f"perfbench FAILED {what}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
