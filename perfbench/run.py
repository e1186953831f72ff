"""Benchmark of the point-in-time feature engine.

    python3 perfbench/run.py --workload pit_tokens --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. One invocation runs one workload in one
``local[<cores>]`` session; ``--workload all`` runs every workload untraced
and traced, each in its own process, and reports the tracing overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics traced). The full record --
provenance, input fingerprint, host condition per repetition, every
workload number and the spans -- goes to
``.perfbench_work/results/<workload>-seed<seed>-trace<trace>.json``. The
exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("pit_tokens", "registry_mix")
# The driver heap is fixed at this size from the start (-Xms as well as
# -Xmx): with a growing heap, the step at which G1 expands it made peak RSS
# bimodal from run to run.
DRIVER_MEMORY = "2g"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too, would write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, cores: int):
    from audio_feature_extraction_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        driver_memory=DRIVER_MEMORY,
        extra={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(work: str, cores: int, inputs: list[str]):
    """Start the run's one session, which launches its JVM, and warm it by
    reading every input; the benchmark's processes each open one session,
    as the repository's other benches do."""
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    t1 = time.perf_counter()
    for path in inputs:
        spark.read.parquet(path).count()
    t2 = time.perf_counter()
    return spark, {
        "setup_s": t2 - t0,
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }


def quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return {"n": len(xs), "q1": q[0], "median": statistics.median(xs), "q3": q[2]}


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args: argparse.Namespace) -> int:
    cfg = spec()
    seconds = args.seconds if args.seconds is not None else cfg["run_seconds"]
    work = os.path.join(WORK, f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)

    import audio_feature_extraction_spark  # noqa: F401  -- fail before any output
    import workloads as wl
    from tracing import RssSampler, Tracer, git_stamp

    cores = len(os.sched_getaffinity(0))
    ctx = wl.Ctx(
        spark=None, seed=args.seed, seconds=seconds,
        data_dir=os.path.join(work, "data"), work_dir=work,
        tracer=Tracer(enabled=bool(args.trace)),
    )
    t0 = time.perf_counter()
    if args.workload == "registry_mix":
        inputs = wl.registry_inputs(ctx)
    else:
        inputs = wl.sequence_inputs(ctx)
    ctx.fingerprint["gen_s"] = time.perf_counter() - t0

    ctx.rss = RssSampler()
    with ctx.rss:
        t0 = time.perf_counter()
        ctx.spark, session = setup(work, cores, inputs)
        t1 = time.perf_counter()
        try:
            res = getattr(wl, args.workload)(ctx)
        finally:
            t2 = time.perf_counter()
            shutdown(ctx.spark)
    ctx.phases.update(
        setup_s=t1 - t0, workload_s=t2 - t1, shutdown_s=time.perf_counter() - t2
    )

    values = {
        **session,
        **res.layers,
        "work_s": statistics.median(res.times),
        "work_cpu_s": statistics.median(ctx.op_cpu),
        "peak_rss_mb": ctx.rss.peak_mb,
        "failed_frac": res.failed / res.attempted,
        "input.gen_s": ctx.fingerprint["gen_s"],
    }
    declared = {m["name"] for m in cfg["per_layer"] + cfg["end_to_end"]}
    if set(values) - declared:
        raise ValueError(f"undeclared metrics: {sorted(set(values) - declared)}")
    want = cfg["per_layer"] if args.trace else cfg["end_to_end"]
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
        for m in want
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": seconds,
        "cores": cores,
        "git": git_stamp(ROOT),
        "input": ctx.fingerprint,
        "phases": ctx.phases,
        "host": ctx.host,
        "per_op": {"work_s": quartiles(res.times), "work_cpu_s": quartiles(ctx.op_cpu)},
        "op_times_s": res.times,
        "op_cpu_s": ctx.op_cpu,
        "values": values,
        "errors": res.errors,
        "spans": ctx.tracer.dump(),
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=float)

    for e in res.errors:
        print(f"CHECK FAILED {args.workload}: {e}", file=sys.stderr)
    shown = sorted((k, v) for k, v in values.items() if "." not in k)
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v:.6g}" for k, v in shown))
    correct = not res.errors
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def run_all(args: argparse.Namespace) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    rows, rc = [], 0
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--trace", str(trace)]
            if args.seconds is not None:
                cmd += ["--seconds", str(args.seconds)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            rc |= p.returncode
            sys.stderr.write(p.stderr[-4000:] if p.returncode else "")
            print(p.stdout.strip().splitlines()[-2] if p.stdout.strip() else f"{w}: no output")
            path = os.path.join(WORK, "results", f"{w}-seed{args.seed}-trace{trace}.json")
            with open(path) as f:
                res[trace] = json.load(f)["values"]
        rows.append((w, res[0], res[1]))
    print("tracing overhead (traced / untraced - 1):")
    for w, off, on in rows:
        print(f"  {w:14s}" + "".join(
            f"  {k} {off[k]:.3f} -> {on[k]:.3f} s ({on[k] / off[k] - 1:+.1%})"
            for k in ("work_s", "work_cpu_s")
        ))
    return rc


def main(argv: list[str]) -> int:
    args = parse(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
