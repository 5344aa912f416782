"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process drives the engine on
``local[nproc]`` the way the shipped spark-submit jobs do, runs whole
cycles of the workload's seeded closed-loop op mix for at least
``--seconds``, checks every answer, and prints one JSON object as its
last stdout line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  All files go under
``.perfbench_work/`` in the checkout.  ``--scale tiny`` is for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def _load_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(run, setup_s: float) -> dict:
    """``latency_geomean_ms``: geometric mean over the mix's op kinds of
    each kind's median latency; ``ops_per_s``: ops per second of op
    time."""
    lat = [x for xs in run.latencies.values() for x in xs]
    return {
        "setup_s": setup_s,
        "latency_geomean_ms": statistics.geometric_mean(run.kind_medians().values()) * 1e3,
        "ops_per_s": len(lat) / sum(lat),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", help="input scale from workloads.json (tiny: tests)")
    args = ap.parse_args(argv)

    # the program under test must come from this checkout
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    manifest = _load_manifest()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    import sysinfo

    # every process started from here is stopped and waited for before
    # this one exits, also on an error or a SIGTERM
    sysinfo.adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        env = sysinfo.pin_environment(run_dir)
        try:
            import elasticsearch_approx_plugin_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        return _run(args, manifest, spec, run_dir, env)
    finally:
        sysinfo.end_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)


def _run(args, manifest: dict, spec: dict, run_dir: str, env: dict) -> int:
    import sysinfo
    import spans
    import workloads
    from sysinfo import log

    wl = spec["workloads"][args.workload]
    params = spec["shipped_job_params"]
    info = {"driver_mem_mb": env["driver_mem_mb"]}
    marks = {"start": T0}
    info["capacity_mops_before"] = sysinfo.capacity_probe(env["cpus"])
    marks["probe"] = time.perf_counter()

    # inputs and expected answers come from a process of their own, so
    # the oracles' memory is not in the measured process tree
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", args.workload, "--seed", str(args.seed),
         "--scale", args.scale, "--out", os.path.join(WORK, "inputs")],
        check=True, stdout=subprocess.DEVNULL,
    )
    import prepare

    inputs = prepare.input_dir(os.path.join(WORK, "inputs"), args.seed, args.scale, args.workload)
    with open(os.path.join(inputs, "expect.json")) as f:
        expect = json.load(f)
    marks["inputs"] = time.perf_counter()
    tracer = spans.Tracer(enabled=bool(args.trace))
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']}",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })

    from elasticsearch_approx_plugin_spark.session import get_spark

    spark = None
    with sysinfo.RssSampler() as rss:
        try:
            with tracer.span("session.get_spark") as s:
                spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
            tracer.attach(spark)
            info["env"] = sysinfo.versions(spark)
            run = workloads.Run(spark, tracer, wl, params, inputs, expect, run_dir)
            run.setup_calls["session.get_spark"] = s.wall
            w = workloads.WORKLOADS[args.workload](run)
            log(f"set-up {args.workload} seed={args.seed}")
            w.setup()
            marks["setup"] = time.perf_counter()
            _settle(spark)
            log("measuring")
            window = run.loop(args.seconds, w.ops())
            marks["window"] = time.perf_counter()
        finally:
            if spark is not None:
                _stop(spark)
    marks["stop"] = time.perf_counter()
    info["capacity_mops_after"] = sysinfo.capacity_probe(env["cpus"])
    marks["probe_after"] = time.perf_counter()
    names = list(marks)
    info["phase_s"] = {b: round(marks[b] - marks[a], 2) for a, b in zip(names, names[1:])}

    setup_s = sum(run.setup_calls.values())
    e2e = end_to_end(run, setup_s)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "scale": args.scale,
        "window_s": window, "samples": sum(map(len, run.latencies.values())), "attempted": run.attempted,
        "failed": run.failed, "failures": run.failures[:20], "setup_calls": run.setup_calls,
        "latency_ms_by_kind": {k: [round(v * 1e3, 1) for v in vs] for k, vs in run.latencies.items()},
        "end_to_end": e2e, "peak_rss_mb": rss.peak_mb, **info,
    }
    if args.trace:
        import layers

        jobs = spans.read_event_log(log_dir)
        metrics = layers.per_layer(run, tracer.spans, jobs, rss.peak_mb)
        result["per_layer"] = metrics
        result["overhead"] = layers.overhead(os.path.join(WORK, "results"), args.workload, args.scale, e2e)
        print(layers.table(metrics, result["overhead"]))
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "results", f"spans-{args.workload}-{args.scale}-s{args.seed}.json"))
        units = {m["name"]: m["unit"] for m in manifest["per_layer"]}
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    _save(result)
    print(json.dumps({k: v for k, v in result.items() if k not in ("per_layer", "end_to_end")}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def _settle(spark) -> None:
    """Collect the set-up's garbage in the JVM and in this process
    before the window opens, so that no run's requests pay for a
    collection the set-up left behind and others' do not."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as exc:  # a signal may have cut a gateway call short
        sys.stderr.write(f"perfbench: stopping the session: {exc}\n")
        if proc is not None:
            proc.kill()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _save(result: dict) -> None:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{result['workload']}-{result['scale']}-s{result['seed']}-t{result['trace']}-{int(time.time())}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(result, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
