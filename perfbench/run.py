"""End-to-end benchmark of the engine's three user-facing paths.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``batch_etl``     CSV -> run_batch_pipeline -> ParquetDirSink, repeated;
* ``stream_upsert`` feeder -> DQ gate -> keyed upsert -> serving lookup;
* ``query_mix``     registry queries: build -> plan -> noop execute.

Each run starts its own session (``local[4]``) and makes its inputs from
``--seed`` (``setup_s``). Its first operation runs in the cold JVM, as in
a spark-submit job (``first_s``); the later ones are measured for
``--seconds`` from its end, and for at least ``harness.MIN_SAMPLES``
operations. Every output is checked against the answer the generator
expected. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` prints the per-layer metrics from
a run whose operations after the first are half traced, half
untraced, and writes the spans to
``perfbench/out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; lines before it
(prefixed ``#``) repeat each metric with its unit and sample count and
stamp the host and software versions.

All files a run writes stay inside the checkout: inputs and Spark's
scratch space under ``perfbench/work/`` (deleted at exit), the result
and span files under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("batch_etl", "stream_upsert", "query_mix")
UNITS = {
    "setup_s": "s",
    "first_s": "s",
    "p50_s": "s",
    "throughput_per_s": "1/s",
    "ok_frac": "frac",
}

_STAGE_SPANS = (
    "pipeline",
    "sinks.write",
    "streaming.sinks.upsert_batch",
    "streaming.sinks.quarantine_upsert",
    "streaming.sinks.read_for_keys",
    "streaming.lookup.execute",
    "plans.build",
    "plans.execute",
)


def layer_metrics() -> list[str]:
    """Every per-layer metric, in every workload's traced result: a layer
    a workload does not reach reads 0."""
    from etl_seattle_call_data_spark.operators.star_schema import STAR_TABLES

    from perfbench.query_mix import QUERIES
    from perfbench.trace import STAGE_FIELDS

    return [
        "pipeline.run_batch_pipeline_s",
        "pipeline.self_s",
        *(f"sinks.write.{t}_s" for t in STAR_TABLES),
        "sinks.output_bytes_per_input_byte",
        "streaming.feeder.poll_once_s",
        "streaming.engine_s",
        "streaming.dq_gate.self_s",
        "streaming.dq_gate.quarantine_ratio",
        "streaming.sinks.upsert_batch_s",
        "streaming.sinks.quarantine_upsert_s",
        "streaming.sinks.buckets_touched",
        "streaming.sinks.live_epoch_dirs",
        "streaming.sinks.write_amp",
        "streaming.sinks.space_amp",
        "streaming.sinks.read_for_keys_s",
        "streaming.lookup.execute_s",
        "streaming.tied_keys",
        "plans.build_s",
        "plans.plan_s",
        "plans.execute_s",
        *(f"plans.{q}_s" for q in QUERIES),
        "operators.util.cached_mb",
        *(f"{span}.{f}" for span in _STAGE_SPANS for f in STAGE_FIELDS),
        "session.get_spark_s",
        "process.peak_rss_mb",
        "log.error_lines",
        "trace.overhead_frac",
    ]


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _engine_present() -> bool:
    try:
        importlib.import_module("etl_seattle_call_data_spark.pipeline")
        importlib.import_module("tests.fixtures")
        importlib.import_module("tools.verify_oracle")
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return False
    return True


def _stop_jvm() -> None:
    """Stop the session, if one is up, then the gateway JVM, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    gateway, sc = SparkContext._gateway, SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, **sizes) -> dict:
    """Set up, measure and check one workload; returns the result record.
    ``sizes`` override the workload's input sizes (the tests use tiny ones)."""
    from perfbench import harness

    mod = importlib.import_module(f"perfbench.{workload}")
    ctx = harness.Ctx(workload, seed, seconds, trace, work)
    steal0, total0 = harness.cpu_ticks()
    t0 = time.perf_counter()
    state = mod.setup(ctx, **sizes)
    setup_s = time.perf_counter() - t0
    ctx.tracer.reset()  # per-layer numbers come from the measured phase only
    e2e, measured, info = mod.measure(ctx, state)
    layers = dict.fromkeys(layer_metrics(), 0.0) if trace else {}
    layers.update(measured)
    e2e["setup_s"] = setup_s
    e2e["ok_frac"] = (ctx.attempted - ctx.failed) / max(ctx.attempted, 1)
    if trace:
        layers["session.get_spark_s"] = ctx.get_spark_s
        layers["process.peak_rss_mb"] = harness.peak_rss_mb(ctx.spark)
    info["peak_rss_mb"] = round(harness.peak_rss_mb(ctx.spark), 1)
    steal1, total1 = harness.cpu_ticks()
    info["host_cpu_steal"] = f"{(steal1 - steal0) / max(total1 - total0, 1):.1%} of host CPU time during the run"
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "stamp": harness.stamp(ctx.spark),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failures": ctx.failures[:20],
        "end_to_end": e2e,
        "per_layer": layers,
        "info": info,
        "_ctx": ctx,
    }


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not _engine_present():
        return 2
    from perfbench import harness

    bench_dir = os.path.join(ROOT, "perfbench")
    work = os.path.join(bench_dir, "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(bench_dir, "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # Spark, both JVMs (launcher and driver) and Python put scratch files
    # here, inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    # The JVM inherits fd 2 at launch: route it to a file so its ERROR
    # lines can be counted, and copy the file back to stderr at the end.
    log_path = os.path.join(out_dir, f"{tag}.log")
    real_stderr = os.dup(2)
    log = open(log_path, "w")
    os.dup2(log.fileno(), 2)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        ctx = res.pop("_ctx")
        if args.trace:
            res["per_layer"]["log.error_lines"] = harness.error_lines(log_path)
            ctx.tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    finally:
        _stop_jvm()
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        log.close()
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read())
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)

    print(f"# stamp {json.dumps(res['stamp'])}")
    for k, v in res["info"].items():
        print(f"# {k} = {v}")
    chosen = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for name in sorted(chosen):
        unit = UNITS.get(name) or _layer_unit(name)
        metrics[name] = {"value": chosen[name], "unit": unit}
        print(f"# {name} = {chosen[name]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_amp", "_ratio", "_frac", "_per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
