"""stream_upsert: feeder -> file stream -> DQ gate -> keyed upsert, with a
serving lookup after every epoch (a closed loop: publish, then
``processAllAvailable()``, then look up, then publish the next poll).

The first, cold epoch (stream start) seeds the store with ``SEED_KEYS``
keys, so a later epoch of ``POLL`` records is a small fraction of it.
Each poll updates earlier keys (30%), repeats some keys within the poll
(multi-dispatch) and carries rows that break a DQ rule (2%). The
reference consumer triggers every 10 s (consumer_cassandra.py:266);
epoch latency is reported against that interval.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import gen
from perfbench.harness import MIN_SAMPLES, Ctx, dir_bytes, pct, traced_op

SEED_KEYS = 2_000
POLL = 200
LOOKUP_KEYS = 32
BUCKETS = 4
# the traced epoch whose store is measured for live_epoch_dirs and
# space_amp: a fixed index, since the store is never vacuumed and both
# grow with the number of epochs a run fits in; every traced run makes
# this one, and traces it
AMP_EPOCH = 2 * MIN_SAMPLES
TRIGGER_INTERVAL_S = 10.0


def dq_rules():
    from etl_seattle_call_data_spark.operators import dq

    return [dq.not_null("call_type"), dq.in_set("priority", gen.PRIORITIES)]


class GatedUpsertSink:
    """Duck-typed sink for ``run_upsert_stream``: its ``foreach_batch()``
    sends each micro-batch through the DQ gate into the clean keyed store
    and the quarantine store, with a span around each call."""

    def __init__(self, store, quarantine, tracer):
        self.store = store
        self.quarantine = quarantine
        self.tracer = tracer

    def foreach_batch(self):
        from etl_seattle_call_data_spark.streaming.dq_gate import quarantining_writer

        def clean(df, epoch):
            with self.tracer.span("streaming.sinks.upsert_batch"):
                self.store.upsert_batch(df, epoch)

        def quarantined(df, epoch):
            with self.tracer.span("streaming.sinks.quarantine_upsert"):
                self.quarantine.upsert_batch(df, epoch)

        gate = quarantining_writer(dq_rules(), clean, quarantined)

        def body(df, epoch):
            with self.tracer.span("streaming.dq_gate"):
                gate(df, epoch)

        return body


def setup(ctx: Ctx, seed_keys: int = SEED_KEYS, poll: int = POLL) -> dict:
    """Fresh session, generator and stores. The query's first epoch, the
    cold one (``first_s``), seeds the store with a poll of ``seed_keys``
    records."""
    from etl_seattle_call_data_spark.streaming.sinks import KeyedUpsertSink

    ctx.new_session()
    d = ctx.fresh_dir("stream")
    store = KeyedUpsertSink(os.path.join(d, "store"), "cad_event_number", "processed_at", BUCKETS)
    quarantine = KeyedUpsertSink(os.path.join(d, "quarantine"), "call_sign_dispatch_id", None, 4)
    return {
        "dir": d,
        "gen": gen.StreamGenerator(ctx.seed),
        "store": store,
        "quarantine": quarantine,
        "sink": GatedUpsertSink(store, quarantine, ctx.tracer),
        "sizes": (seed_keys, poll),
    }


def _manifest(store) -> dict[str, str]:
    """The store's live epoch directory per bucket; empty before the first
    epoch has committed."""
    try:
        with open(os.path.join(store.path, "_LATEST")) as f:
            return json.load(f)["buckets"]
    except FileNotFoundError:
        return {}


def _store_stats(store, before: dict[str, str]) -> dict[str, float]:
    """Write/space accounting of the epoch that turned manifest ``before``
    into the current one."""
    after = _manifest(store)
    new_dirs = set(after.values()) - set(before.values())
    live = sum(dir_bytes(os.path.join(store.path, d, f"__bucket={b}")) for b, d in after.items())
    return {
        "touched": sum(1 for b, d in after.items() if before.get(b) != d),
        "written": sum(dir_bytes(os.path.join(store.path, d)) for d in new_dirs),
        "live_dirs": len(set(after.values())),
        "space_amp": dir_bytes(store.path) / live,
    }


def _lookup(ctx: Ctx, store, keys: list[str]) -> list[tuple[str, str]]:
    from pyspark.sql import functions as F

    keys_df = ctx.spark.createDataFrame([(k,) for k in keys], "cad_event_number string")
    with ctx.tracer.span("streaming.sinks.read_for_keys"):
        frame = store.read_for_keys(keys_df)
    with ctx.tracer.span("streaming.lookup.execute"):
        rows = (
            frame.filter(F.col("cad_event_number").isin(keys))
            .select("cad_event_number", "call_sign_dispatch_id")
            .collect()
        )
    return [(r[0], r[1]) for r in rows]


def measure(ctx: Ctx, st: dict) -> tuple[dict, dict, dict]:
    from etl_seattle_call_data_spark.streaming.feeder import CallableSource, FileStreamFeeder
    from etl_seattle_call_data_spark.streaming.pipeline import file_json_stream, run_upsert_stream
    from etl_seattle_call_data_spark.streaming.schema import STREAM_SCHEMA

    spark, tracer, g, store = ctx.spark, ctx.tracer, st["gen"], st["store"]
    seed_keys, poll = st["sizes"]
    src = os.path.join(st["dir"], "in")
    polls: list[list[dict]] = []

    def next_poll():
        polls.append(g.poll(poll if polls else seed_keys))
        return polls[-1]

    feeder = FileStreamFeeder(src, CallableSource(next_poll))
    epochs: list[dict] = []  # per epoch: latency, body, traced, ...
    lookups: list[float] = []
    query = None
    try:
        while ctx.keep_going(len(epochs)):
            tracer.enabled = traced_op(ctx.trace, len(epochs))
            before = _manifest(store)
            with tracer.span("streaming.epoch") as ep:
                t0 = time.perf_counter()
                path = feeder.poll_once()
                t_pub = time.perf_counter()
                if query is None:
                    query = run_upsert_stream(
                        file_json_stream(spark, src, STREAM_SCHEMA), st["sink"], os.path.join(st["dir"], "ckpt")
                    )
                err = None
                try:
                    query.processAllAvailable()
                except Exception as exc:  # StreamingQueryException: the query is dead
                    err = exc
            if not ctx.check(err is None, f"epoch {len(epochs)}: {err}"):
                break
            body = sum(s.dur for s in tracer.spans[ep.id + 1 :] if s.name == "streaming.dq_gate")
            rec = {"latency": ep.end - t_pub, "poll": t_pub - t0, "body": body, "traced": tracer.enabled}
            if tracer.enabled:
                tracer.record("streaming.feeder.poll_once", rec["poll"])
                rec.update(_store_stats(store, before))
                rec["input_bytes"] = os.path.getsize(path)
            epochs.append(rec)
            # keys of this poll that the store must hold (a new key whose
            # only rows were quarantined is not there)
            keys = sorted({r["cad_event_number"] for r in polls[-1]} & g.state.latest.keys())[:LOOKUP_KEYS]
            with tracer.span("streaming.lookup") as lk:
                got = ctx.attempt("lookup", _lookup, ctx, store, keys)
            lookups.append(lk.dur)
            if got is not None:
                want = g.state.latest
                ctx.check(
                    sorted(k for k, _ in got) == keys and all(i in want[k] for k, i in got),
                    f"lookup after epoch {len(epochs) - 1}: {len(got)} rows for {len(keys)} keys",
                )
            tracer.collect_stages()
    finally:
        if query is not None:
            query.stop()
    tracer.enabled = ctx.trace

    # final state: every key's newest clean row, and every quarantined row
    final = {r[0]: r[1] for r in store.read(spark).select("cad_event_number", "call_sign_dispatch_id").collect()}
    want = g.state.latest
    ctx.check(
        final.keys() == want.keys() and all(i in want[k] for k, i in final.items()),
        f"final store: {len(final)} keys, expected {len(want)}",
    )
    n_quar = st["quarantine"].read(spark).count()
    ctx.check(n_quar == g.state.quarantined, f"quarantine holds {n_quar} rows, expected {g.state.quarantined}")

    lat = [e["latency"] for e in epochs]
    steady = lat[1:]
    n_records = poll * len(steady)
    e2e = {
        "first_s": epochs[0]["latency"],
        "p50_s": pct(steady, 50),
        "throughput_per_s": n_records / (sum(steady) + sum(lookups[1:])),
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        tr = [e for e in epochs if e["traced"]]
        amp = epochs[AMP_EPOCH] if len(epochs) > AMP_EPOCH else {}  # fewer only if an epoch failed
        med = lambda xs: pct(xs, 50)  # noqa: E731
        layers.update(
            {
                "streaming.feeder.poll_once_s": tracer.median("streaming.feeder.poll_once"),
                "streaming.engine_s": med([e["latency"] - e["body"] for e in tr]),
                "streaming.dq_gate.self_s": tracer.self_time("streaming.dq_gate"),
                "streaming.dq_gate.quarantine_ratio": g.state.quarantined / sum(map(len, polls)),
                "streaming.sinks.upsert_batch_s": tracer.median("streaming.sinks.upsert_batch"),
                "streaming.sinks.quarantine_upsert_s": tracer.median("streaming.sinks.quarantine_upsert"),
                "streaming.sinks.buckets_touched": med([e["touched"] for e in tr]),
                "streaming.sinks.live_epoch_dirs": amp.get("live_dirs", 0),
                "streaming.sinks.write_amp": med([e["written"] / e["input_bytes"] for e in tr]),
                "streaming.sinks.space_amp": amp.get("space_amp", 0.0),
                "streaming.sinks.read_for_keys_s": tracer.median("streaming.sinks.read_for_keys"),
                "streaming.lookup.execute_s": tracer.median("streaming.lookup.execute"),
                "streaming.tied_keys": g.state.tied_keys(),
            }
        )
        for prefix in (
            "streaming.sinks.upsert_batch",
            "streaming.sinks.quarantine_upsert",
            "streaming.sinks.read_for_keys",
            "streaming.lookup.execute",
        ):
            layers.update(tracer.stage_metrics(prefix, prefix))
        untraced = [e["latency"] for e in epochs[1:] if not e["traced"]]
        layers["trace.overhead_frac"] = med([e["latency"] for e in tr]) / med(untraced) - 1
    info = {
        "epoch_latency_first_s": f"{lat[0]:.4f} s (stream start + seeding epoch)",
        "epoch_latency_p50_s": f"{e2e['p50_s']:.4f} s (n={len(steady)}; "
        f"{e2e['p50_s'] / TRIGGER_INTERVAL_S:.1%} of the reference's {TRIGGER_INTERVAL_S:g} s trigger)",
        "epoch_latency_p75_s": f"{pct(steady, 75):.4f} s (n={len(steady)}, {len(steady) // 4} beyond p75)",
        "lookup_latency_p50_s": f"{pct(lookups, 50):.4f} s (n={len(lookups)})",
        "lookup_latency_p75_s": f"{pct(lookups, 75):.4f} s (n={len(lookups)}, {len(lookups) // 4} beyond p75)",
        "store": f"{len(g.state.latest)} keys in {BUCKETS} buckets; {seed_keys} seeding records, "
        f"{poll} per later epoch",
        "streaming.tied_keys": f"{g.state.tied_keys()} keys whose newest poll holds two rows (either may win)",
    }
    return e2e, layers, info
