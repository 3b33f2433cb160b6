#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the workload's inputs from the seed,
sets up a Spark session on ``local[<cpus>]``, runs one untimed warm
iteration, then runs iterations one at a time (a closed loop with one
client) until ``--seconds`` have passed, checking every iteration's outputs.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics: the same loop untraced and then traced (spans around each call into
a layer, Spark job groups per span, Spark's event log), single-threaded
kernel probes, and the tracing overhead. See ``benchmark/README.md``.

Everything the run writes lands under ``.bench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_run")
DRIVER_MEM = "4g"
CACHE_SETUPS = 3          # setup_s takes the median of this many input cachings
MIN_TIMED = 2             # timed iterations per tracer, however long they take
WALL_LIMIT_S = 170        # hard stop for one invocation

END_TO_END = {
    "items_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "crawl.rounds": "count",
    "crawl.fetched": "count",
    "crawl.new_urls": "count",
    "crawl.deferred": "count",
    "crawl.fetch_hit_ratio": "ratio",
    "crawl.round_s.first": "s",
    "crawl.round_s.widest": "s",
    "crawl.partial_s": "s",
    "crawl.resume_s": "s",
    "crawl.state_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.driver_think_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.gc_s": "s",
    "extract.kernel_s": "s",
    "extract.rows_out": "count",
    "extract.inflate_ms": "ms",
    "dom.parse_ms": "ms",
    "dom.css_ms": "ms",
    "dom.xpath_ms": "ms",
    "dom.text_ms": "ms",
    "extract.links_ms": "ms",
    "extract.page_ms": "ms",
    "extract.wide_pass_s": "s",
    "extract.wide_pages_per_s": "1/s",
    "flatten.s": "s",
    "sinks.write_s": "s",
    "textops.quality_s": "s",
    "textops.exact_s": "s",
    "textops.minhash_s": "s",
    "textops.lsh_pairs_s": "s",
    "textops.jaccard_s": "s",
    "textops.components_s": "s",
    "textops.decontaminate_s": "s",
    "textops.split_in_plan": "count",
    "textops.lsh_candidates": "count",
    "textops.verified_pairs": "count",
    "textops.lsh_precision": "ratio",
    "textops.lsh_recall": "ratio",
    "trace.overhead_pct": "%",
    "trace.untraced_iter_s": "s",
    "trace.traced_iter_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def isolate(work: str, trace: bool) -> str:
    """Point every scratch location of this run at the checkout's own work
    directory, so that two checkouts never share a shipped package zip,
    spill files or event logs. Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # one plain JSON-lines file per application, readable as it is
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CONF_JSON": json.dumps(conf),
        # initial heap at (or, capped by -Xmx, near) its maximum, every page
        # of it touched at start: the heap neither resizes nor faults in new
        # regions while measured, so the tree's peak RSS does not follow
        # which regions the collector happened to use.
        # A fixed set of JIT compiler threads, so that cpu_s can leave their
        # CPU out (an exited thread's CPU could no longer be told apart).
        # JIT thresholds at 5% of the default, so hot code is compiled within
        # the warm and settle iterations instead of speeding up the timed ones
        # for minutes; the larger code cache keeps that extra compiled code
        # from filling it (a full cache turns the compiler off).
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:InitialRAMPercentage=25"
            " -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
            " -XX:CompileThresholdScaling=0.05 -XX:ReservedCodeCacheSize=512m"
        ),
    })
    return events


def kill_tree(probe) -> None:
    me = os.getpid()
    for pid in reversed(probe.tree_pids(me)):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_loop(wl, tracers, seconds: float, probe, label: str, min_turns: int = 1) -> list:
    """Closed loop: one iteration at a time, cycling through ``tracers``,
    until the timed iterations add up to ``seconds``, every tracer had at
    least ``min_turns`` turns and all had the same number. Output checks run
    between iterations, off the clock. Each record notes the tracer it ran
    under."""
    records = []
    timed = 0.0
    while True:
        tracer = tracers[len(records) % len(tracers)]
        tracer.iteration = sum(r["tracer"] is tracer for r in records)
        rec = {"ok": False, "errors": [], "tracer": tracer}
        cpu0 = probe.tree_cpu_s(os.getpid())
        w0, t0 = time.time(), time.perf_counter()
        try:
            out = wl.iterate(tracer)
            rec["wall"] = time.perf_counter() - t0
            rec["window"] = (w0, time.time())
            rec["cpu"] = probe.tree_cpu_s(os.getpid()) - cpu0
            rec["items"] = out.items
            rec["outcome"] = out
            timed += rec["wall"]
            rec["errors"] = out.check()
            rec["ok"] = not rec["errors"]
        except Exception:
            rec["errors"] = [traceback.format_exc()]
        name = f"{label}{'-traced' if tracer.enabled else ''} {tracer.iteration}"
        for e in rec["errors"]:
            log(f"[{name}] FAILED: {e}")
        if rec["ok"]:
            log(f"[{name}] {rec['wall']:.3f} s, {rec['items']} {wl.item}, "
                f"{rec['cpu']:.2f} cpu s")
        records.append(rec)
        if "wall" not in rec or (
            timed >= seconds
            and len(records) >= min_turns * len(tracers)
            and len(records) % len(tracers) == 0
        ):
            return records


def median_of(records, key):
    vals = [r[key] for r in records if r["ok"]]
    return statistics.median(vals) if vals else 0.0


def run_extras(wl, tracer, first_iteration: int) -> list:
    """The workload's traced-only operations, each checked like an iteration."""
    records = []
    tracer.iteration = first_iteration
    try:
        for out in wl.traced_extras(tracer):
            errs = out.check()
            for e in errs:
                log(f"[extra {tracer.iteration}] FAILED: {e}")
            records.append({"ok": not errs, "errors": errs, "outcome": out,
                            "items": out.items, "iteration": tracer.iteration})
            tracer.iteration += 1
    except Exception:
        log(f"[extra {tracer.iteration}] FAILED: {traceback.format_exc()}")
        records.append({"ok": False, "errors": ["exception"]})
    return records


def layer_metrics(wl, spark, untraced, traced, extras, tracer, wk) -> dict:
    """The per-layer metrics from the traced iterations."""
    ok = [r for r in traced if r["ok"]]
    m = {}

    def med(vals, default=0.0):
        vals = list(vals)
        return statistics.median(vals) if vals else default

    # crawl: the engine's own per-round records
    rounds = [[x for ms in r["outcome"].crawl_metrics for x in ms] for r in ok]
    m["crawl.rounds"] = med(len(rs) for rs in rounds)
    m["crawl.fetched"] = med(sum(x.fetched for x in rs) for rs in rounds)
    m["crawl.new_urls"] = med(sum(x.new_urls for x in rs) for rs in rounds)
    m["crawl.deferred"] = med(sum(x.deferred for x in rs) for rs in rounds)
    m["crawl.round_s.first"] = med(rs[0].seconds for rs in rounds if rs)
    m["crawl.round_s.widest"] = med(max(rs, key=lambda x: x.fetched).seconds for rs in rounds if rs)
    m["crawl.fetch_hit_ratio"] = med(
        r["outcome"].counts["pages_with_content"] / r["items"]
        for r in ok if "pages_with_content" in r["outcome"].counts
    )

    main = set(range(len(traced)))

    def span_med(name, iterations=None):
        """Median over iterations of the summed duration of spans ``name``."""
        per_iter = {}
        for s in tracer.spans:
            if s["name"] == name and (iterations is None or s["iteration"] in iterations):
                per_iter[s["iteration"]] = per_iter.get(s["iteration"], 0.0) + s["end"] - s["start"]
        return med(per_iter.values())

    m["crawl.partial_s"] = span_med("crawl.partial")
    m["crawl.resume_s"] = span_med("crawl.resume")
    m["crawl.state_bytes"] = med(
        r["outcome"].counts["state_bytes"] for r in extras
        if r["ok"] and r["outcome"].label == "resume")
    m["flatten.s"] = span_med("flatten", main)
    m["sinks.write_s"] = span_med("sinks.write", main)
    m["extract.wide_pass_s"] = span_med("wide_pass")
    wide_pages = [r["items"] for r in extras if r["ok"] and r["outcome"].label == "wide_pass"]
    m["extract.wide_pages_per_s"] = (
        wide_pages[0] / m["extract.wide_pass_s"] if wide_pages and m["extract.wide_pass_s"] else 0.0
    )
    for st in ("quality", "exact", "minhash", "lsh_pairs", "jaccard", "components", "decontaminate"):
        m[f"textops.{st}_s"] = span_med(f"textops.{st}")
    plan = wl.plan_text()
    m["textops.split_in_plan"] = plan.count("split(")
    cand = med(r["outcome"].counts.get("lsh_candidates", 0) for r in ok)
    ver = med(r["outcome"].counts.get("verified_pairs", 0) for r in ok)
    m["textops.lsh_candidates"] = cand
    m["textops.verified_pairs"] = ver
    m["textops.lsh_precision"] = med(
        r["outcome"].counts["verified_pairs"] / r["outcome"].counts["lsh_candidates"]
        for r in ok if r["outcome"].counts.get("lsh_candidates")
    )
    m["textops.lsh_recall"] = med(r["outcome"].counts.get("lsh_recall", 0.0) for r in ok)

    # extract / dom: single-threaded probe over a fixed page sample
    sample = wl.kernel_sample()
    zero = {k: 0.0 for k in ("extract.kernel_s", "extract.rows_out", "extract.inflate_ms",
                             "dom.parse_ms", "dom.css_ms", "dom.xpath_ms", "dom.text_ms",
                             "extract.links_ms", "extract.page_ms")}
    m.update(wk.kernel_probe(spark, *sample) if sample else zero)

    # tracing overhead: traced against untraced iterations of the same loop
    u, t = median_of(untraced, "wall"), median_of(traced, "wall")
    m["trace.overhead_pct"] = (t / u - 1) * 100 if u else 0.0
    m["trace.untraced_iter_s"] = u
    m["trace.traced_iter_s"] = t
    return m


def spark_layer(events_dir, app_id, traced, tracer, probe) -> dict:
    """spark.* counters per traced iteration, from the event log (which is
    deleted once read)."""
    ok = [r for r in traced if r["ok"]]
    log_ = probe.read_event_log(events_dir, app_id)
    os.remove(os.path.join(events_dir, app_id))
    groups = {}
    for i, s in enumerate(tracer.spans):
        groups[tracer.group_id(i)] = s["iteration"]
    per = []
    for r in ok:
        it = traced.index(r)
        ws, we = r["window"]
        jobs = [j for j in log_["jobs"]
                if (groups.get(j[3]) == it) or (j[3] is None and ws <= j[1] <= we)]
        per.append(probe.spark_counters(jobs, log_["tasks"], (ws, we)))
    out = {}
    for key in ("jobs", "tasks", "driver_think_s", "shuffle_bytes", "gc_s"):
        vals = [p[key] for p in per]
        out[f"spark.{key}"] = statistics.median(vals) if vals else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import probe

    t_origin = time.perf_counter() - probe.process_age_s()
    if not os.path.isfile(os.path.join(ROOT, "dude_spark", "__init__.py")):
        log(f"benchmark: no dude_spark package under {ROOT}; run from a full checkout")
        return 2
    import workloads as wk

    if args.workload not in wk.WORKLOADS:
        log(f"benchmark: unknown workload {args.workload!r}; one of {sorted(wk.WORKLOADS)}")
        return 2

    watchdog = threading.Timer(WALL_LIMIT_S, lambda: (log("benchmark: wall limit hit"),
                                                       kill_tree(probe), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()

    trace = bool(args.trace)
    run_dir = os.path.join(WORK, args.workload)
    events_dir = isolate(WORK, trace)
    sys.path.insert(0, ROOT)
    wl = wk.WORKLOADS[args.workload](run_dir)

    g0 = time.perf_counter()
    wl.prepare(args.seed)
    gen_s = time.perf_counter() - g0
    log(f"[prepare] inputs and expectations in {gen_s:.2f} s")

    ti = time.perf_counter()
    from dude_spark import get_spark
    from probe import RssSampler, Tracer
    log(f"[setup] engine imported in {time.perf_counter() - ti:.2f} s, "
        f"{time.perf_counter() - t_origin:.2f} s after process start")

    with RssSampler(os.getpid()) as rss:
        spark = get_spark(app_name=f"bench-{args.workload}")
        # the session part of set-up runs from process start (interpreter,
        # imports, JVM launch, package shipping), less input generation
        session_s = time.perf_counter() - t_origin - gen_s
        caches = []
        for i in range(CACHE_SETUPS):
            if i:
                wl.release()
            t0 = time.perf_counter()
            wl.setup(spark)
            caches.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = run_loop(wl, [Tracer(False)], 0, probe, "warm")
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(caches) + warm_s
        log(f"[setup] session {session_s:.2f} s; inputs cached "
            f"{', '.join(f'{c:.2f}' for c in caches)} s; warm iteration {warm_s:.2f} s")
        # the JIT keeps speeding iterations up well after the first one;
        # untimed iterations move the timed ones closer to steady state
        for _ in range(wl.settle_iterations):
            warm += run_loop(wl, [Tracer(False)], 0, probe, "settle")

        rss.reset()
        if not trace:
            untraced = run_loop(wl, [Tracer(False)], args.seconds, probe, "iter", MIN_TIMED)
            records = warm + untraced
            metrics = {
                "items_per_s": statistics.median(
                    [r["items"] / r["wall"] for r in untraced if r["ok"]] or [0.0]),
                "cpu_s": median_of(untraced, "cpu"),
                "peak_rss_mb": rss.peak / 2**20,
                "setup_s": setup_s,
            }
            units = END_TO_END
        else:
            # untraced and traced iterations alternate, so that the overhead
            # compares iterations from the same stretch of the run
            wl.prepare_traced(args.seed)
            tracer = Tracer(True, spark)
            both = run_loop(wl, [Tracer(False), tracer], args.seconds, probe, "iter", MIN_TIMED)
            untraced = [r for r in both if not r["tracer"].enabled]
            traced = [r for r in both if r["tracer"].enabled]
            extras = run_extras(wl, tracer, len(traced))
            records = warm + both + extras
            app_id = spark.sparkContext.applicationId
            metrics = layer_metrics(wl, spark, untraced, traced, extras, tracer, wk)
            tracker = spark.sparkContext.statusTracker()
            n_tracked = sum(len(tracker.getJobIdsForGroup(tracer.group_id(i)))
                            for i in range(len(tracer.spans)))
            log(f"[trace] status tracker saw {n_tracked} jobs in span groups")
            wl.release()
            stop_spark(spark)
            spark = None
            metrics.update(spark_layer(events_dir, app_id, traced, tracer, probe))
            tracer.write(os.path.join(WORK, "trace", f"spans-{args.workload}-s{args.seed}.jsonl"))
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                log(f"[trace] self time {name}: {s:.3f} s")
            units = PER_LAYER
        if spark is not None:
            wl.release()
            stop_spark(spark)

    failed = sum(not r["ok"] for r in records)
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    watchdog.cancel()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
