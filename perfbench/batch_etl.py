"""batch_etl: a seeded call-data CSV through ``run_batch_pipeline`` into a
``ParquetDirSink``, several times in one session.

The first run in a fresh session is ``first_s`` (what a spark-submit
user pays on every run); the later runs give ``p50_s`` and the input
rows per second. Every run must report all six star tables and the
``batch_quality`` observation with the generator's survivor count.
"""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.harness import Ctx, dir_bytes, pct, traced_op

ROWS = 3_000


class TracedSink:
    """Sink wrapper: one span (and Spark job group) per table write."""

    def __init__(self, inner, tracer):
        self.inner = inner
        self.tracer = tracer

    def write(self, name, df):
        with self.tracer.span(f"sinks.write.{name}"):
            return self.inner.write(name, df)


def setup(ctx: Ctx, rows: int = ROWS) -> dict:
    ctx.new_session()
    d = ctx.fresh_dir("batch")
    csv_path = os.path.join(d, "Call_Data.csv")
    return {"csv": csv_path, "out": os.path.join(d, "out"), "exp": gen.write_calldata_csv(csv_path, rows, ctx.seed)}


def _check(ctx: Ctx, res, kept: int) -> bool:
    from etl_seattle_call_data_spark.operators.star_schema import STAR_TABLES

    want_counts = dict.fromkeys(STAR_TABLES, kept)
    want_obs = {"n_rows": kept, "null_event_keys": 0, "null_event_dates": 0}
    got_obs = {k: int(v) for k, v in res.metrics.items()}
    return ctx.check(
        res.row_counts == want_counts and got_obs == want_obs,
        f"batch run: counts {res.row_counts} observation {got_obs}, expected {kept} rows",
    )


def measure(ctx: Ctx, st: dict) -> tuple[dict, dict, dict]:
    from etl_seattle_call_data_spark.pipeline import run_batch_pipeline
    from etl_seattle_call_data_spark.sinks import ParquetDirSink

    spark, tracer, exp = ctx.spark, ctx.tracer, st["exp"]
    traced_mode = ctx.trace
    runs: list[tuple[float, bool]] = []  # (seconds, traced)
    while ctx.keep_going(len(runs)):
        tracer.enabled = traced_op(traced_mode, len(runs))
        sink = TracedSink(ParquetDirSink(st["out"]), tracer)
        with tracer.span("pipeline.run_batch_pipeline") as sp:
            res = ctx.attempt(
                "run_batch_pipeline", run_batch_pipeline, spark, st["csv"], st["out"], False, False, sink
            )
        runs.append((sp.dur, tracer.enabled))
        if res is not None:
            _check(ctx, res, exp.kept)
        tracer.collect_stages()
    tracer.enabled = traced_mode

    later = [d for d, _ in runs[1:]]
    e2e = {
        "first_s": runs[0][0],
        "p50_s": pct(later, 50),
        "throughput_per_s": exp.rows * len(later) / sum(later),
    }
    layers: dict[str, float] = {}
    if traced_mode:
        from etl_seattle_call_data_spark.operators.star_schema import STAR_TABLES

        layers["pipeline.run_batch_pipeline_s"] = tracer.median("pipeline.run_batch_pipeline")
        layers["pipeline.self_s"] = tracer.self_time("pipeline.run_batch_pipeline")
        for t in STAR_TABLES:
            layers[f"sinks.write.{t}_s"] = tracer.median(f"sinks.write.{t}")
        layers["sinks.output_bytes_per_input_byte"] = dir_bytes(st["out"]) / exp.input_bytes
        layers.update(tracer.stage_metrics("pipeline.run_batch_pipeline", "pipeline"))
        layers.update(tracer.stage_metrics("sinks.write.", "sinks.write"))
        traced = [d for d, t in runs[1:] if t]
        untraced = [d for d, t in runs[1:] if not t]
        layers["trace.overhead_frac"] = pct(traced, 50) / pct(untraced, 50) - 1
    info = {
        "batch_first_s": f"{e2e['first_s']:.4f} s (n=1)",
        "batch_run_p50_s": f"{e2e['p50_s']:.4f} s (n={len(later)})",
        "batch_rows_per_s": f"{e2e['throughput_per_s']:.1f} rows/s over {len(later)} later runs",
        "input": f"{exp.rows} rows, {exp.input_bytes} bytes, {exp.kept} expected to survive",
    }
    return e2e, layers, info
