#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 benchmark/selftest.py

Runs every workload, shrunk, on two seeds in one Spark session (the crawl
with its traced-only operations: the resumed durable crawl and the wide
extraction pass) and requires every output check to pass. Then it corrupts
one written output row per workload, and one trace entry, and requires the
checks to catch each. It also requires ``BENCHMARK.json`` to list the
workloads and metrics the benchmark reports. Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (sets up paths and the isolated environment)

SEEDS = (101, 202)


def shrink(wk, gen) -> None:
    wk.CrawlBfs.spec = gen.WebSpec(n_hosts=10, pages_per_host=16, pad=4)
    wk.ExtractWide.spec = gen.WebSpec(n_hosts=10, pages_per_host=10, pad=20)
    wk.DOCS = gen.DocSpec(n_docs=20, n_exact=2, n_light=2, n_mid=2, n_heavy=2, n_eval=2)


def rewrite_parquet(path: str, edit) -> None:
    """Replace a parquet directory's content with ``edit(rows)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    rows = edit(tbl.to_pylist())
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), os.path.join(path, "part-0.parquet"))


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "dude_spark", "__init__.py")):
        print("selftest: no dude_spark package next to the benchmark", file=sys.stderr)
        return 2
    run.isolate(run.WORK, trace=False)
    sys.path.insert(0, run.ROOT)
    import expect
    import gen
    import workloads as wk
    from probe import Tracer

    from dude_spark import get_spark

    shrink(wk, gen)
    failures = []
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for kind, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        if {m["name"]: m["unit"] for m in spec[kind]} != table:
            failures.append(f"BENCHMARK.json {kind} differs from the metrics run.py reports")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(wk.WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from the benchmark's workloads")
    off = Tracer(False)
    spark = get_spark(app_name="bench-selftest")
    try:
        for seed in SEEDS:
            base = os.path.join(run.WORK, "selftest", f"s{seed}")
            crawl = wk.CrawlBfs(os.path.join(base, "crawl"))
            crawl.prepare(seed)
            crawl.prepare_traced(seed)
            crawl.setup(spark)
            dedup = wk.DedupPipeline(os.path.join(base, "dedup"))
            dedup.prepare(seed)
            dedup.setup(spark)

            outcomes = [("crawl_bfs", crawl.iterate(off))]
            for out in crawl.traced_extras(off):
                outcomes.append((f"crawl_bfs/{out.label}", out))
            outcomes.append(("dedup_pipeline", dedup.iterate(off)))
            for name, out in outcomes:
                errs = out.check()
                print(f"seed {seed} {name}: {'ok' if not errs else errs}")
                if errs:
                    failures.append(f"seed {seed} {name}: {errs}")

            # corrupt one output row per workload; the check must object
            crawl_out = crawl.iterate(off)

            def retitle(rows):
                rows[0]["data"] = [(k, v + "x") for k, v in rows[0]["data"]]
                return rows

            rewrite_parquet(crawl.out_dir, retitle)
            dedup_out = dedup.iterate(off)
            rewrite_parquet(os.path.join(dedup.out_dir, "keep"), lambda rows: rows[1:])
            trace = [(u, d, i) for i, (u, d) in enumerate(crawl.want_trace)]
            trace[1], trace[2] = (trace[1][0], trace[1][1], 2), (trace[2][0], trace[2][1], 1)
            for what, errs in (
                ("an altered crawl row", crawl_out.check()),
                ("a dropped keep-set row", dedup_out.check()),
                ("two swapped trace seqs", expect.check_trace(trace, crawl.want_trace)),
            ):
                print(f"seed {seed} {what}: {'caught: ' + errs[0] if errs else 'NOT caught'}")
                if not errs:
                    failures.append(f"seed {seed}: {what} passed the check")
            crawl.release()
            dedup.release()
    finally:
        run.stop_spark(spark)
    for f in failures:
        print("FAIL", f, file=sys.stderr)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
