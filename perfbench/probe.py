"""Regenerate the layer probe table: build s, Catalyst ms, final exec s,
jobs and stages per registered query, from the traced spans of the last
of ``--runs`` warm runs.

    python3 perfbench/probe.py [--runs 3] [query ...]

Run from the repository root, with the same environment as run.py
(``local[<nproc>]``, fixture from ``SPARK_GRAFT_SF_DIR``, default sf0.1).
"""

from __future__ import annotations

import argparse
import os
import sys

import run
import tracing
import workloads

PROBE = (
    "dq02_filter dq05_agg dq17_pagerank ext_entity_resolution_multi "
    "ext_mad_outliers ext_ts_interpolate dq18_grouped_udf"
).split()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("queries", nargs="*", default=PROBE)
    args = p.parse_args(argv)

    sys.path.insert(0, str(run.REPO))
    cores = len(os.sched_getaffinity(0))
    run.isolate_environment(cores, traced=True)
    from remap_spark.engine import build_session, ship_package
    from remap_spark.queries import ALL_QUERIES

    spark = build_session(app_name="perfbench-probe")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ship_package(spark)
        fixture = workloads.sf_dir(spark)
        tracer = tracing.Tracer(spark)
        callsites = tracing.CallSites(spark.sparkContext)
        callsites.install()
        rows = []
        for name in args.queries:
            fn = ALL_QUERIES[name]
            ex = workloads.Execution(name, lambda: fn(spark, fixture), None)
            for _ in range(args.runs):
                _, err = run.execute(ex, tracer)
                tracer.read_pending()
                if err:
                    raise RuntimeError(f"{name}: {err}")
            last = [s for s in tracer.spans if s["kind"] == "execution"][-1]
            kids = {s["kind"]: s for s in tracer.spans if s["parent"] == last["id"]}
            b, pl, e = kids["build"], kids["plan"], kids["exec"]
            rows.append((
                name,
                b["end"] - b["start"],
                sum(pl[f"catalyst.{k}_ms"] for k in ("analysis", "optimization", "planning")),
                e["end"] - e["start"],
                b["jobs"] + pl["jobs"] + e["jobs"],
                b["stages"] + pl["stages"] + e["stages"],
            ))
        callsites.uninstall()
    finally:
        run.shut_down(spark)
    print(f"sf_dir {fixture}, local[{cores}], run {args.runs} of {args.runs}\n")
    print("| query | build s | Catalyst ms | final exec s | jobs | stages |")
    print("|---|---|---|---|---|---|")
    for name, bs, cms, es, jobs, stages in rows:
        print(f"| {name} | {bs:.2f} | {cms:.0f} | {es:.2f} | {jobs} | {stages} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
