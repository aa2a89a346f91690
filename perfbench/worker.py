"""One benchmark run, in the fresh process that ``run.py`` starts.

Set-up (several times, median reported), one cold pass, warm passes until
``--seconds`` have passed since the cold pass started, on realtime a series
of lookups on the final store, then the output checks. With ``--trace 1``
the same run is traced (event log, job groups, streaming listener, wall
spans), then the SparkContext is restarted untraced for one more warm
pass, which gives the tracing overhead.

Prints info lines, then one JSON line: ``{"correct", "attempted",
"failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import gen
import tracing
import workloads

SETUP_REPS = 3
MB = 1024.0 * 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def spark_conf(work: str, trace_dir: str | None) -> dict[str, str]:
    conf = {
        # JVM temp files stay inside the run's scratch directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no progress bar redrawn on the terminal while the passes are timed
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(trace_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def info(key: str, value) -> None:
    print(f"perfbench {key}: {json.dumps(value, sort_keys=True)}", flush=True)


def run(args) -> dict:
    work = os.path.abspath(args.work)
    wl = workloads.WORKLOADS[args.workload]()
    spans = tracing.Spans()
    data_dir = os.path.join(work, "data")

    # --- set-up: session up, inputs generated and opened ------------------
    info("phase", "setup")
    setup_s, start_s, hashes = [], [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        shutil.rmtree(data_dir, ignore_errors=True)
        trace_dir = os.path.join(work, "eventlog", str(rep)) if args.trace else None
        t0 = time.time()
        from aml_feature_store_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=spark_conf(work, trace_dir))
        start_s.append(time.time() - t0)
        wl.generate(data_dir, args.seed)
        ctx = workloads.Ctx(spark, data_dir, work, args.seed, spans, trace=bool(args.trace))
        workloads.open_events(ctx)
        setup_s.append(time.time() - t0)
        hashes.append(gen.sha256_files(data_dir))
    if any(h != hashes[0] for h in hashes):
        raise RuntimeError("input generator is not deterministic for one seed")
    info("inputs_sha256", hashes[0])

    current = {"pass": "setup"}
    if args.trace:
        from aml_feature_store_spark import catalog

        catalog.queries()  # load every query module before patching them
        tracing.patch_sources(spans, lambda: current["pass"])
        ctx.listener = tracing.StreamListener()
        spark.streams.addListener(ctx.listener)

    # --- measured passes ---------------------------------------------------
    info("phase", "measure")
    passes = []
    t_start = time.time()
    # a warm pass starts only if it should end within --seconds
    while len(passes) < 2 or (time.time() - t_start + passes[-1].wall_s
                              <= args.seconds):
        label = "cold" if not passes else f"warm{len(passes)}"
        current["pass"] = label
        spark._jvm.System.gc()  # every pass starts from a collected heap
        t0 = time.time()
        passes.append(wl.run_pass(ctx, label))
        spans.items.append(tracing.Span("pass", label, t0, time.time()))
        info("pass", {"label": label, "wall_s": round(passes[-1].wall_s, 4),
                      "errors": passes[-1].errors, "detail": passes[-1].extra})
    cold, warm = passes[0], passes[1:]

    # --- realtime: lookups on the last pass's final store ------------------
    served = [wl.serve(ctx)] if hasattr(wl, "serve") else []
    for p in served:
        info("serve", {"wall_s": round(p.wall_s, 4), "errors": p.errors,
                       "lookup_ms": [round(x, 1) for x in p.op_ms]})

    # --- output checks, outside the timed passes ----------------------------
    info("phase", "check")
    t0 = time.time()
    results = wl.check(ctx)
    info("check_wall_s", round(time.time() - t0, 3))
    for op, issues in sorted(results.items()):
        if issues or not op.startswith("lookup"):
            print(f"perfbench check {'FAIL' if issues else 'OK  '} {op}"
                  + (f": {'; '.join(issues[:3])}" if issues else ""), flush=True)
    n_lookup_ok = sum(1 for k, v in results.items() if k.startswith("lookup") and not v)
    if n_lookup_ok:
        print(f"perfbench check OK   {n_lookup_ok} lookups", flush=True)
    done = passes + served
    raised = sum(len(p.errors) for p in done)
    failed = raised + sum(1 for v in results.values() if v)
    attempted = sum(p.attempted for p in done)
    info("failed_frac", failed / attempted)

    warm_s = median(p.wall_s for p in warm)
    if args.workload == "realtime":
        ingest = [x for p in warm for x in p.extra["ingest_s"]]
        info("ingest_p50_s", median(ingest))
        ingest_wall = median(sum(p.extra["ingest_s"]) for p in warm)
    else:
        ingest_wall = warm_s
    rows_per_s = wl.rows / ingest_wall if ingest_wall else 0.0
    # realtime: the serve series; backfill: the queries of the warm passes
    ops = [x for p in (served or warm) for x in p.op_ms]
    info("op_samples", len(ops))
    if len(ops) > 1:
        info("op_p90_ms", statistics.quantiles(ops, n=10, method="inclusive")[8])
    if args.trace:
        metrics = traced_metrics(args, wl, spark, spans, ctx, passes, served, start_s,
                                 work)
    else:
        metrics = {
            "setup_s": (median(setup_s), "s"),
            "cold_pass_s": (cold.wall_s, "s"),
            "warm_pass_s": (warm_s, "s"),
            "rows_per_s": (rows_per_s, "rows/s"),
            "op_p50_ms": (median(ops), "ms"),
        }
    ctx.spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_metrics(args, wl, spark, spans, ctx, passes, served, start_s, work) -> dict:
    spark.stop()  # flushes and closes the event log
    jobs = tracing.read_event_log(os.path.join(work, "eventlog", str(SETUP_REPS - 1)))
    warm = passes[1:]

    # one more warm pass, untraced, in a fresh SparkContext: tracing overhead
    from aml_feature_store_spark.session import get_spark

    spans.enabled = False
    untraced_ctx = workloads.Ctx(get_spark("perfbench", extra_conf=spark_conf(work, None)),
                                 ctx.data_dir, work, args.seed, spans)
    untraced = wl.run_pass(untraced_ctx, "untraced")
    info("pass", {"label": "untraced", "wall_s": round(untraced.wall_s, 4),
                  "errors": untraced.errors})
    spans.enabled = True
    ctx.spark = untraced_ctx.spark
    overhead = median(p.wall_s for p in warm) / untraced.wall_s - 1.0

    m: dict[str, tuple[float, str]] = {}
    per_pass: list[dict[str, float]] = []
    pass_span = {s.label: s for s in spans.of("pass")}
    for p in warm:
        pre = f"{p.label}:"
        r: dict[str, float] = {}
        builds = spans.of("build", pre)
        r["queries.build_s"] = sum(s.wall for s in builds)
        r["queries.eager_jobs"] = float(len(tracing.jobs_in(jobs, builds)))
        r["queries.build_driver_s"] = sum(
            s.wall - tracing.busy_s(tracing.jobs_in(jobs, [s]), s) for s in builds
        )
        r["catalyst.plan_s"] = sum(s.wall for s in spans.of("plan", pre))
        run_spans = spans.of("exec", pre) + spans.of("ingest", pre)
        r["exec.s"] = sum(s.wall for s in run_spans)
        totals = tracing.exec_totals(tracing.jobs_in(jobs, run_spans))
        for k, v in totals.items():
            if k != "input_mb":
                r[f"exec.{k}"] = v
        r["sources.scan_s"] = sum(s.wall for s in spans.of("sources", pre))
        pass_jobs = tracing.jobs_in(jobs, [pass_span[p.label]])
        r["sources.scan_mb"] = tracing.exec_totals(pass_jobs)["input_mb"]
        for name in workloads.BACKFILL_QUERIES:
            op = [s for s in spans.items if s.label == f"{pre}{name}"]
            r[f"q.{name}.build_s"] = sum(s.wall for s in op if s.kind == "build")
            r[f"q.{name}.exec_s"] = sum(s.wall for s in op if s.kind == "exec")
            r[f"q.{name}.jobs"] = float(len(tracing.jobs_in(jobs, op)))
        per_pass.append(r)
    for k in per_pass[0]:
        unit = ("s" if k.endswith("_s") or k == "exec.s" else
                "MB" if k.endswith("_mb") else "count")
        m[k] = (median(r[k] for r in per_pass), unit)

    cold_builds = spans.of("build", "cold:")
    m["queries.cold_build_s"] = (float(sum(s.wall for s in cold_builds)), "s")
    m["queries.cold_eager_jobs"] = (float(len(tracing.jobs_in(jobs, cold_builds))), "count")
    m["session.start_s"] = (median(start_s), "s")
    m["session.launch_s"] = (start_s[0], "s")

    # streaming: listener progress inside the warm passes
    prog = ctx.listener.progress if ctx.listener else []
    warm_spans = [pass_span[p.label] for p in warm]
    in_warm = [e for e in prog if any(s.start <= e["t"] <= s.end for s in warm_spans)]
    by_pass = [[e for e in in_warm if s.start <= e["t"] <= s.end] for s in warm_spans]
    m["streaming.batches"] = (median(len(b) for b in by_pass), "count")
    m["streaming.batch_ms"] = (median(e["trigger_ms"] for e in in_warm), "ms")
    m["streaming.state_rows"] = (median(b[-1]["state_rows"] for b in by_pass if b), "count")
    m["streaming.state_mb"] = (median(b[-1]["state_bytes"] / MB for b in by_pass if b), "MB")
    m["streaming.commit_ms"] = (median(e["commit_ms"] for e in in_warm), "ms")

    # online store: merge spans and the bytes they wrote in the warm passes;
    # lookup spans of the serve series, the lookups op_p50_ms is taken from
    merges = [s for p in warm for s in spans.of("merge", f"{p.label}:")]
    lookups = [s for p in served for s in spans.of("lookup", f"{p.label}:")]
    m["online_store.merge_s"] = (median(s.wall for s in merges), "s")
    written = [b for p in warm for b in p.extra.get("written_b", [])]
    m["online_store.write_mb"] = (median(b / MB for b in written), "MB")
    m["online_store.write_amp"] = (median(wl.write_amp(p) for p in warm)
                                   if written else 0.0, "ratio")
    lookup_ms = [s.wall * 1000.0 for s in lookups]
    m["online_store.lookup_ms"] = (median(lookup_ms), "ms")
    m["online_store.lookup_p90_ms"] = (
        statistics.quantiles(lookup_ms, n=10, method="inclusive")[8]
        if len(lookup_ms) > 1 else 0.0, "ms")
    m["online_store.lookup_jobs"] = (
        median(len(tracing.jobs_in(jobs, [s])) for s in lookups), "count")
    m["trace.overhead_frac"] = (overhead, "ratio")

    idle = sorted(k for k, (v, _u) in m.items() if v == 0.0)
    info("not_exercised_or_zero", idle)
    info("measured_indirectly", {
        "online_store.write_amp": "the merged batch is never written alone: its "
                                  "bytes are its rows' share of the store's bytes",
        "exec.sched_delay_s": "task launch-to-finish minus run, deserialize and "
                              "result-serialization time",
        "queries.build_driver_s": "build wall minus the time a Spark job was running",
        "trace.overhead_frac": "the untraced pass runs in a fresh SparkContext",
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
