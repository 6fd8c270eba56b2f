"""Streaming data-quality gate: route each micro-batch's rule-violating
rows to a quarantine sink (tagged with the rules they failed) and clean
rows onward — the streaming face of operators/dq.py.

Design for scale: the whole gate is ONE pass over the batch. Every
column rule compiles to a predicate; the per-row violation tag is an
array column built from when()-expressions (never a per-rule filter
job), and the batch splits with two filters over one cached frame.
Referential rules check against a STATIC reference frame (stream-static
join on the pruned key set — broadcastable), the standard streaming
enrichment shape; stream-stream referential checks belong to the
watermarked join operators in streaming/stateful.py.

The reference pipeline (consumer_cassandra.py) drops malformed rows
silently inside its transform; quarantining keeps them inspectable and
re-playable — the contract a 100 TB ingest actually needs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators.dq import Rule
from etl_seattle_call_data_spark.operators.util import persisted


def violation_tags(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Add a ``dq_violations`` array column naming every rule the row
    fails (empty array = clean). Column rules only (not_null/custom);
    a foreign_key rule becomes an anti-membership flag via a broadcast
    left join on the pruned reference key set."""
    tags = []
    out = df
    for i, r in enumerate(rules):
        if r.kind == "not_null":
            bad: Column = F.col(r.column).isNull()
        elif r.kind == "custom":
            bad = r.predicate
        elif r.kind == "foreign_key":
            flag = f"__dq_fk_{i}"
            keys = (
                r.ref.select(F.col(r.ref_column).alias(r.column))
                .filter(F.col(r.column).isNotNull())
                .distinct()
                .withColumn(flag, F.lit(True))
            )
            out = out.join(F.broadcast(keys), r.column, "left")
            bad = F.col(r.column).isNotNull() & F.col(flag).isNull()
        else:
            raise ValueError(
                f"rule kind {r.kind!r} is not streamable (unique needs "
                "cross-batch state; use dropDuplicatesWithinWatermark)"
            )
        tags.append(F.when(bad, F.lit(r.name)))
    tagged = out.withColumn(
        "dq_violations", F.array_compact(F.array(*tags))
    )
    return tagged.drop(*[c for c in tagged.columns if c.startswith("__dq_fk_")])


def quarantining_writer(
    rules: list[Rule],
    write_clean: Callable[[DataFrame, int], None],
    write_quarantine: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function: tag violations once, split the
    cached batch into clean rows (tag column dropped) and quarantined
    rows (tag column kept for triage/replay), hand each to its writer."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        with persisted(violation_tags(batch, rules)) as tagged:
            write_clean(
                tagged.filter(F.size("dq_violations") == 0).drop("dq_violations"),
                epoch_id,
            )
            write_quarantine(
                tagged.filter(F.size("dq_violations") > 0), epoch_id
            )

    return _write
