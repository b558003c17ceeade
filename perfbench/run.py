"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fixpoint_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop with one client:
one driver thread runs executions back to back on ``local[<nproc>]``,
with ``SPARK_GRAFT_CPUS=<nproc>`` and every other engine default left
alone. Each execution is one call into the program's build layer plus a
forced execution to the ``noop`` sink; its output is checked afterwards,
outside the timed part. Executions run in whole passes over the
workload, repeated until ``--seconds`` of timed executions have run and
the workload's minimum number of passes is reached.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same loop with every span in its own Spark job
group and prints the per-layer metrics. The last line of standard output
is the result; the line before it records how the run was made. Both,
with the spans of a traced run, are also written to
``.perfbench/results/``. Inputs and Spark's scratch files go under
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def program_hash() -> str:
    """sha256 over the program's sources: identifies the code measured
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = REPO / "remap_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def isolate_environment(cores: int, traced: bool) -> None:
    """Pin the core count and keep every scratch file inside the checkout.
    Nothing else of the engine's configuration is touched, except that a
    traced run's status store keeps every job, stage and SQL execution."""
    import tracing

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # without -XX:-UsePerfData the JVM writes its perf-data file to the
    # system temp directory, outside the checkout, whatever
    # java.io.tmpdir says
    inherited = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{inherited} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    if traced:
        os.environ["JAVA_TOOL_OPTIONS"] += " " + tracing.RETAIN_STATUS


def shut_down(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (the JVM and its Python workers) has exited."""
    import stats

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while len(stats.descendants(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError("processes started by the run did not exit")
        time.sleep(0.2)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_workload(name: str, spark, seed: int):
    import workloads as w

    if name == "fixpoint_small":
        return w.fixpoint_small(spark)
    if name == "mapreduce_text":
        return w.mapreduce_text(spark, seed, WORK / "inputs")
    raise ValueError(f"unknown workload {name!r}")


def execute(ex, tracer) -> tuple[object, str | None]:
    """One timed execution: the build call, then (traced) Catalyst
    planning, then forced execution. Returns the DataFrame and the error
    the program raised, if any."""
    from contextlib import nullcontext

    import tracing

    def span(kind):
        return tracer.span(kind, ex.name) if tracer else nullcontext({})

    df = None
    try:
        with span("execution"):
            with span("build"):
                df = ex.build()
            if tracer:
                with span("plan") as sp:
                    tracer.catalyst(df, sp)
            with span("exec"):
                noop(df)
    except tracing.EvictedError:
        raise
    except Exception as e:  # the program failed this execution
        return df, f"raised {type(e).__name__}: {str(e)[:300]}"
    return df, None


def check(ex, df) -> str | None:
    try:
        return ex.check(df)
    except Exception as e:  # a check that cannot run counts as failed
        return f"check raised {type(e).__name__}: {str(e)[:300]}"


def measure(args, spark, cores: int, session_s: float, setup_ticks: list[int]) -> dict:
    """Warm up, then run whole passes until ``args.seconds`` of timed
    executions and at least ``min_passes`` passes have run; check every
    output outside the timed part."""
    from contextlib import nullcontext

    import stats
    import tracing

    t0 = time.perf_counter()
    wl = build_workload(args.workload, spark, args.seed)
    construct_s = time.perf_counter() - t0

    rss = stats.RssPeaks()
    warm_s, warm_failures = 0.0, []
    for ex in wl.warmup:
        t0 = time.perf_counter()
        df, err = execute(ex, None)
        warm_s += time.perf_counter() - t0
        err = err or check(ex, df)
        if err:
            warm_failures.append(f"{ex.name}: {err}")
    rss.sample()
    ticks = stats.cpu_ticks()
    setup_steal = stats.steal_frac(setup_ticks, ticks)

    tracer = tracing.Tracer(spark) if args.trace else None
    callsites = tracing.CallSites(spark.sparkContext) if args.trace else None
    if callsites:
        callsites.install()
    tally = stats.Tally()
    samples: dict[str, list[float]] = {}
    executions: list[dict] = []
    timed_s, check_s, passes = 0.0, 0.0, 0
    pass_rates: list[float] = []  # correct executions per minute of each pass
    with tracer.span("run", args.workload) if tracer else nullcontext():
        while passes < wl.min_passes or timed_s < args.seconds:
            pass_s, pass_correct = 0.0, tally.correct
            with tracer.span("pass", str(passes)) if tracer else nullcontext():
                for ex in wl.pass_order(args.seed, passes):
                    before = stats.cpu_ticks()
                    t0 = time.perf_counter()
                    df, err = execute(ex, tracer)
                    dt = time.perf_counter() - t0
                    steal_ex = stats.steal_frac(before, stats.cpu_ticks())
                    if tracer:
                        tracer.read_pending()
                    timed_s += dt
                    pass_s += dt
                    rss.sample()
                    t0 = time.perf_counter()
                    err = err or check(ex, df)
                    check_s += time.perf_counter() - t0
                    tally.record(ex.name, err)
                    if err is None:
                        samples.setdefault(ex.name, []).append(dt)
                    executions.append({"pass": passes, "name": ex.name, "s": dt,
                                       "steal_frac": steal_ex, "error": err})
            pass_rates.append(60.0 * (tally.correct - pass_correct) / pass_s)
            passes += 1
    if callsites:
        callsites.uninstall()
    rss.sample()
    steal = stats.steal_frac(ticks, stats.cpu_ticks())
    steal_flagged = max(steal, setup_steal) > stats.STEAL_FLAG
    if steal_flagged:
        print(f"WARNING: CPU steal {steal:.1%} in the timed phase, {setup_steal:.1%} in "
              f"set-up, above {stats.STEAL_FLAG:.0%}; timings are suspect", file=sys.stderr)

    pooled = [t for v in samples.values() for t in v]
    tail_s, tail_pct = stats.tail(pooled) if pooled else (0.0, 0.0)
    e2e = {
        "setup_s": session_s + warm_s,
        "query_p50_s": stats.median_of_medians(samples) if samples else 0.0,
        # the median pass, so that one pass slowed by a burst of CPU steal
        # does not move it
        "queries_per_min": statistics.median(pass_rates),
        "peak_rss_mb": rss.total_mb(),
    }
    record = {
        "meta": {
            "inputs": wl.inputs,
            "session_s": session_s,
            "warmup_s": warm_s,
            "construct_s": construct_s,
            "passes": passes,
            "timed_s": timed_s,
            "check_s": check_s,
            "samples": len(pooled),
            "pooled_p50_s": statistics.median(pooled) if pooled else 0.0,
            # not an end-to-end metric: below 20 samples it is the median
            "query_tail_s": tail_s,
            "tail_percentile": tail_pct,
            "steal_frac": steal,
            "setup_steal_frac": setup_steal,
            "steal_flagged": steal_flagged,
            "failed_frac": tally.failed_frac,
            "failures": tally.failures,
            "warmup_failures": warm_failures,
        },
        "result": {
            "correct": tally.failed == 0 and not warm_failures,
            "attempted": tally.attempted,
            "failed": tally.failed,
        },
        "end_to_end": e2e,
        "executions": executions,
    }
    if tracer:
        layers = tracing.layer_metrics(tracer.spans, passes, cores, tracer.cached_bytes_peak)
        layers["engine.session_s"] = session_s
        layers["engine.warmup_s"] = warm_s
        layers.update({f"traced.{k}": v for k, v in e2e.items() if k != "peak_rss_mb"})
        layers["peak_rss_mb"] = e2e["peak_rss_mb"]
        record["per_layer"] = layers
        record["spans"] = tracer.spans
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    if args.workload not in whys:
        print(f"unknown workload {args.workload!r}; known: {sorted(whys)}", file=sys.stderr)
        return 2
    args.why = whys[args.workload]

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(REPO))
    if importlib.util.find_spec("remap_spark") is None:
        print(f"no remap_spark package under {REPO}", file=sys.stderr)
        return 2
    import stats
    import workloads

    bad = [m for m in bench["end_to_end"] + bench["per_layer"]
           if not (stats.valid_metric_name(m["name"]) and stats.valid_metric_unit(m["unit"]))]
    if bad:
        print(f"BENCHMARK.json: malformed metric names or units {bad}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    isolate_environment(cores, traced=bool(args.trace))
    others = stats.other_spark_jvms()
    if others:
        print(f"WARNING: other Spark JVMs alive {others}; timings are suspect", file=sys.stderr)

    # seeded inputs are generated before set-up is timed
    t0 = time.perf_counter()
    workloads.prepare_inputs(args.workload, args.seed, WORK / "inputs")
    generate_s = time.perf_counter() - t0

    # set-up: imports, session, package ship, then the warm-up in measure()
    t0 = time.perf_counter()
    setup_ticks = stats.cpu_ticks()
    from remap_spark.engine import build_session, ship_package

    spark = build_session(app_name=f"perfbench-{args.workload}")
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        ship_package(spark)
        record = measure(args, spark, cores, time.perf_counter() - t0, setup_ticks)
        record["meta"] = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "git_commit": git_commit(),
            "program_sha256": program_hash(),
            "spark_version": spark.version,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": cores,
            "spark_driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
            "other_spark_jvms": others,
            "generate_s": generate_s,
            "why": args.why,
            **record["meta"],
        }
    finally:
        shut_down(spark)

    values = record["per_layer"] if args.trace else record["end_to_end"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    result = {
        **record["result"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "result": result}, indent=1, default=str)
    )
    print(json.dumps(record["meta"], default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
