"""pisa_spark benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 18 --trace 0

Run from the repository root. Workloads: query_batch and dedup (listed
in BENCHMARK.json), query_interactive and build (by hand); see
perfbench/METRICS.md.

- One process, one Spark session from ``pisa_spark.session.get_spark``
  with ``cores`` = the CPUs this process may use, one closed-loop
  client: the next op starts when the previous one returned.
- ``--trace 0`` measures the end-to-end metrics. ``--trace 1`` is the
  separate traced run: it alternates untraced and traced ops, prints
  the per-layer metrics and the tracing overhead between the two.
- Every answer is checked (untimed) against an exhaustive reference;
  a wrong or failed op counts in ``error_rate`` and makes ``correct``
  false.
- The full record (provenance, every raw sample, spans) is written to
  ``.perfbench/results/`` and the last stdout line is the JSON summary.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# The metric names and units are BENCHMARK.json's: the summary prints
# exactly what it lists.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "query_batch", "query_interactive",
                            "dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    # the self-test calls execute() with scale="tiny" and corrupt=True
    args.scale, args.corrupt = "full", False
    return args


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """Session from the shipped factory; scratch space inside ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # Python workers import pisa_spark from the checkout and keep their
    # temp files inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from pisa_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cores=cpus(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": 1}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(p / 100 * (len(xs) - 1))))]


def layer_values(tracer, request: str) -> dict[str, float]:
    """Per-layer metrics of one request from its spans (absent layers
    are left out)."""
    from layers import span_s

    spans = tracer.by_request(request)
    out: dict[str, float] = {}
    for layer in ("forward", "invert", "segments", "parser", "executor"):
        if layer in spans:
            out[f"{layer}.wall_s"] = span_s(spans[layer])
            for k, v in spans[layer]["attrs"].items():
                out[f"{layer}.{k}"] = float(v)
    if "executor.scan" in spans:
        out["executor.scan_s"] = span_s(spans["executor.scan"])
    if "kernels" in spans:
        for k, v in spans["kernels"]["attrs"].items():
            out[f"kernels.{k}"] = float(v)
        if "executor" in spans:
            out["executor.envelope_share"] = (
                1.0 - out["kernels.busy_s"] / out["executor.wall_s"])
    if "dedup" in spans:
        out["dedup.signatures_s"] = span_s(spans["dedup.signatures"])
        out["dedup.pairs_s"] = span_s(spans["dedup.pairs"])
        for k, v in spans["dedup"]["attrs"].items():
            out[f"dedup.{k}"] = float(v)
    return out


def collect_garbage(spark) -> None:
    """Untimed, between ops: free what the last op left behind. Spark
    releases checkpointed and shuffle data of unreferenced frames only
    when the driver JVM collects them, so without this each op would
    start with a different backlog of that cleanup."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def execute(spark, args, session_s: float, work: str) -> dict:
    """Set up, measure, check. Returns the full record."""
    from layers import Tracer
    from workloads import SIZES, WORKLOADS, Context

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(spark, args.seed, SIZES[args.scale], work, tracer)
    wl = WORKLOADS[args.workload](ctx)

    t = time.perf_counter()
    wl.setup()
    setup_total = time.perf_counter() - t
    # the input generation ran gen_reps times: count its median once
    setup_s = (session_s + setup_total - sum(ctx.gen_s)
               + statistics.median(ctx.gen_s))

    samples, results, failures = [], {}, {}
    t_run = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        done_untraced = any(not s["traced"] for s in samples)
        done_traced = any(s["traced"] for s in samples) or not args.trace
        if (time.perf_counter() - t_run >= args.seconds
                and done_untraced and done_traced):
            break
        t = time.perf_counter()
        try:
            items, result = wl.op(i, traced)
            latency = time.perf_counter() - t
            results[i] = wl.answer(i, result)
        except Exception:  # a failed op is counted, the loop goes on
            latency = time.perf_counter() - t
            items = 0
            failures[i] = traceback.format_exc(limit=3)
        collect_garbage(spark)
        samples.append({"op": i, "latency_s": latency, "items": items,
                        "traced": traced})
        i += 1
    measured_s = time.perf_counter() - t_run

    if args.corrupt and results:
        first = min(results)
        results[first] = wl.corrupt(results[first])
    t = time.perf_counter()
    errors = {**wl.check(results), **failures}
    check_s = time.perf_counter() - t
    for s in samples:
        s["ok"] = s["op"] not in errors

    untraced = [s for s in samples if not s["traced"] and s["ok"]]
    lat = [s["latency_s"] for s in untraced]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "measured_s": measured_s,
        "attempted": len(samples), "failed": len(errors),
        "error_rate": len(errors) / len(samples),
        "errors": {str(k): v for k, v in sorted(errors.items())},
        "samples": samples, "session_s": session_s, "setup_s": setup_s,
        "setup_total_s": setup_total, "generate_s": ctx.gen_s,
        "check_s": check_s,
        "latency_s": quartiles(lat) if lat else None,
    }
    if args.trace:
        record["layers"], record["layers_measured"] = traced_layers(
            tracer, samples, session_s)
        record["spans"] = tracer.spans
    elif lat:
        record["e2e"] = {
            "setup_s": setup_s,
            "items_per_s": sum(s["items"] for s in untraced) / sum(lat),
            "op_latency_ms_p50": 1e3 * statistics.median(lat),
            # reported, not gated: a run holds too few ops for ten
            # samples beyond p90
            "op_latency_ms_p90": 1e3 * percentile(lat, 90),
        }
    return record


def traced_layers(tracer, samples, session_s: float):
    """Median over the traced ops of every per-layer metric; a layer
    the ops do not run takes its value from setup (the query workloads
    build their index there), else 0 — the workload does not run it.
    Also returns the names that were measured, not defaulted to 0."""
    ok = [s for s in samples if s["ok"]]
    per_op = [layer_values(tracer, f"op{s['op']}") for s in ok if s["traced"]]
    setup = layer_values(tracer, "setup")
    out = {}
    measured = {"session.start_s", "trace.overhead_share"}
    for name in LAYERS:
        vals = [d[name] for d in per_op if name in d]
        out[name] = (statistics.median(vals) if vals
                     else setup.get(name, 0.0))
        if vals or name in setup:
            measured.add(name)
    out["session.start_s"] = session_s
    traced = [s["latency_s"] for s in ok if s["traced"]]
    plain = [s["latency_s"] for s in ok if not s["traced"]]
    out["trace.overhead_share"] = (
        statistics.median(traced) / statistics.median(plain) - 1.0
        if traced and plain else 0.0)
    return out, sorted(measured)


def provenance(spark, args) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    from workloads import SIZES

    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "cpus": cpus(), "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "sizes": SIZES[args.scale].__dict__, "scale": args.scale,
        "session_conf": {k: v for k, v in sorted(conf.items())
                         if k.startswith("spark.") and "dir" not in k},
    }


def summary(record: dict) -> dict:
    names = LAYERS if record["trace"] else E2E
    values = record.get("layers") or record.get("e2e") or {}
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in names.items() if k in values},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pisa_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    try:
        record = execute(spark, args, session_s, work)
        record["provenance"] = provenance(spark, args)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(base, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    result = summary(record)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{record['attempted']} ops, error_rate {record['error_rate']:.4f}")
    for msg in record["errors"].values():
        print(f"  error: {msg.strip().splitlines()[-1]}")
    if not args.trace and record.get("latency_s"):
        q = record["latency_s"]
        print(f"  op latency n={q['n']} median {q['median']:.4f} s "
              f"q1 {q['q1']:.4f} q3 {q['q3']:.4f}; "
              f"p90 {record['e2e']['op_latency_ms_p90']:.1f} ms")
    for k, m in result["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(f"  record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
