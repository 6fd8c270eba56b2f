"""query_mix: oracle-paired registry queries over seeded test tables.

Each query runs as build (``q.spark``), plan (``executedPlan()``) and
execute (a ``noop`` write, which unlike ``count()`` lets Catalyst prune
nothing the query produces). One first pass in a fresh session, then
repeat passes in the same session; the repeats exercise the engine's
``cache_swap`` reuse (``doc_tfidf_top_terms``' term frequencies), the
first pass, in a cold JVM, does not. The seed sets the tables and the
order of every pass. The results of the last
pass, which runs on whatever the session reused, are checked outside the
timed sections against the DuckDB digest of each query's oracle SQL.
"""

from __future__ import annotations

import random

from perfbench import gen
from perfbench.harness import Ctx, pct, traced_op

SF = 0.005
QUERIES = (
    "events_by_type",
    "q1_pricing_summary",
    "star_join_region_revenue",
    "doc_tfidf_top_terms",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(ctx: Ctx, sf: float = SF, queries: tuple[str, ...] = QUERIES) -> dict:
    import duckdb

    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from tools.verify_oracle import TABLES, duck_digest

    ctx.new_session()
    sf_dir = ctx.fresh_dir("sf")
    rows = gen.write_query_tables(sf_dir, sf, ctx.seed)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        digests = {q: duck_digest(con, REGISTRY[q].oracle) for q in queries}
    finally:
        con.close()
    return {"sf_dir": sf_dir, "digests": digests, "queries": queries, "rows": rows}


def _run_query(ctx: Ctx, name: str, sf_dir: str):
    from etl_seattle_call_data_spark.plans.queries import REGISTRY

    tracer = ctx.tracer
    with tracer.span("plans.build") as b:
        df = REGISTRY[name].spark(ctx.spark, sf_dir)
    with tracer.span("plans.plan") as p:
        df._jdf.queryExecution().executedPlan()
    with tracer.span("plans.execute") as e:
        _noop(df)
    return df, (b.dur, p.dur, e.dur)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _check(ctx: Ctx, digests: dict, frames: dict) -> None:
    """Compare each query's result with its oracle's DuckDB digest."""
    from tools.verify_oracle import spark_digest

    for name, df in frames.items():
        cols, want = digests[name]
        got = ctx.attempt(f"{name} digest", spark_digest, df)
        if got is not None:
            ctx.check(sorted(df.columns) == cols and got == want, f"{name}: digest {got} != oracle {want}")


def measure(ctx: Ctx, st: dict) -> tuple[dict, dict, dict]:
    tracer, queries = ctx.tracer, st["queries"]
    order_rng = random.Random(ctx.seed)
    passes: list[dict] = []  # per pass: total, split, per query, traced, cached_mb
    while ctx.keep_going(len(passes)):
        frames: dict[str, object] = {}
        tracer.enabled = traced_op(ctx.trace, len(passes))
        order = list(queries)
        order_rng.shuffle(order)
        rec = {"per_query": {}, "split": [0.0, 0.0, 0.0], "traced": tracer.enabled}
        with tracer.span("plans.pass"):
            for name in order:
                out = ctx.attempt(name, _run_query, ctx, name, st["sf_dir"])
                if out is None:
                    continue
                df, split = out
                rec["per_query"][name] = sum(split)
                rec["split"] = [a + b for a, b in zip(rec["split"], split)]
                tracer.collect_stages()
                frames[name] = df
        rec["total"] = sum(rec["per_query"].values())
        rec["cached_mb"] = _cached_mb(ctx.spark)
        passes.append(rec)
    # every query run is an operation; those of the last pass are counted
    # by their output check, made after the session's reuse
    for p in passes[:-1]:
        for name in p["per_query"]:
            ctx.check(True, name)
    _check(ctx, st["digests"], frames)
    tracer.enabled = ctx.trace

    repeats = [p["total"] for p in passes[1:]]
    per_query = [t for p in passes[1:] for t in p["per_query"].values()]
    e2e = {
        "first_s": passes[0]["total"],
        "p50_s": pct(repeats, 50),
        "throughput_per_s": len(per_query) / sum(per_query),
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        tr = [p for p in passes[1:] if p["traced"]]
        for i, part in enumerate(("build", "plan", "execute")):
            layers[f"plans.{part}_s"] = pct([p["split"][i] for p in tr], 50)
        for q in queries:
            layers[f"plans.{q}_s"] = pct([p["per_query"][q] for p in tr if q in p["per_query"]], 50)
        layers["operators.util.cached_mb"] = pct([p["cached_mb"] for p in passes[1:]], 50)
        for part in ("build", "execute"):
            layers.update(tracer.stage_metrics(f"plans.{part}", f"plans.{part}"))
        untraced = [p["total"] for p in passes[1:] if not p["traced"]]
        layers["trace.overhead_frac"] = pct([p["total"] for p in tr], 50) / pct(untraced, 50) - 1
    info = {
        "tables": f"{st['rows']} rows",
        "query_first_s": f"{e2e['first_s']:.4f} s (sum over the first pass of {len(queries)} queries, cold JVM)",
        "query_repeat_s": f"{e2e['p50_s']:.4f} s (median pass sum, n={len(repeats)} repeat passes)",
        "query_latency_p50_s": f"{pct(per_query, 50):.4f} s (n={len(per_query)} queries in repeat passes)",
        "query_latency_p75_s": f"{pct(per_query, 75):.4f} s (n={len(per_query)}, {len(per_query) // 4} beyond p75)",
        "first_pass_split_s": "build {:.3f} / plan {:.3f} / execute {:.3f}".format(*passes[0]["split"]),
        "first_pass_per_query_s": {q: round(t, 3) for q, t in passes[0]["per_query"].items()},
        "cached_mb_after_passes": [round(p["cached_mb"], 1) for p in passes],
    }
    return e2e, layers, info
