"""Seeded input generators for the benchmark.

Every generator takes a ``random.Random`` / numpy seed and returns, next
to the inputs it wrote, the answer it expects the engine to produce.
The engine only ever sees the generated files.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.fixtures import HEADER, _row

# ---------------------------------------------------------------------------
# batch call-data CSV (FIXTURES.md §1)
# ---------------------------------------------------------------------------

_BEATS = [f"{s}{n}" for s in "BCDEFGJKLMNOQRSUW" for n in (1, 2, 3)]
_SECTORS = ["KING", "LINCOLN", "DAVID", "EDWARD", "GEORGE", "JOHN", "MARY", "NORA"]
_UNIT_PREFIX = "ABCDEFGHKLMNPQRSTUVW"


@dataclass
class CsvExpectation:
    rows: int          # rows written (input size)
    kept: int          # rows surviving the two drop rules
    input_bytes: int


def _ampm(t: datetime) -> str:
    return t.strftime("%m/%d/%Y %I:%M:%S %p")


def _h24(t: datetime) -> str:
    return t.strftime("%m/%d/%Y %H:%M:%S")


def write_calldata_csv(path: str, n_rows: int, seed: int) -> CsvExpectation:
    """``n_rows`` dispatch rows built from the test fixture's row template.

    Events have one or two dispatch rows. About 3% of rows have no
    arrival time (the row is dropped) and about 2% no in-service time
    (every surviving row of the event is dropped); the expected survivor
    count is computed here, with the transform's order: arrival drop
    first, then the event cascade over the rows still present."""
    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows_meta: list[tuple[str, bool, bool]] = []  # (event, arrived, in_service)
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=HEADER)
        w.writeheader()
        event_no = 0
        written = 0
        while written < n_rows:
            event_no += 1
            event = f"2024{event_no:06d}"
            queued = base + timedelta(seconds=rng.randrange(0, 180 * 86400))
            fmt = _h24 if rng.random() < 0.2 else _ampm
            n_dispatch = 2 if rng.random() < 0.3 else 1
            units = rng.sample(range(len(_UNIT_PREFIX) * 100), n_dispatch)
            for u in units[: n_rows - written]:
                dispatch = queued + timedelta(seconds=rng.randrange(60, 900))
                at_scene = dispatch + timedelta(seconds=rng.randrange(60, 1800))
                has_arrival = rng.random() >= 0.03
                has_in_service = rng.random() >= 0.02
                r = _row(
                    event,
                    f"{_UNIT_PREFIX[u // 100]}{u % 100:02d}",
                    fmt(queued),
                    arrived=fmt(queued + timedelta(seconds=rng.randrange(1, 300)))
                    if has_arrival
                    else "",
                    dispatch=fmt(dispatch),
                    at_scene="" if rng.random() < 0.1 else fmt(at_scene),
                    in_service=fmt(at_scene + timedelta(seconds=rng.randrange(300, 7200)))
                    if has_in_service
                    else "",
                    spd_scene=fmt(at_scene) if rng.random() < 0.5 else "",
                    care_scene=fmt(at_scene) if rng.random() < 0.5 else "",
                    priority="" if rng.random() < 0.05 else str(rng.randint(1, 9)),
                    sector="" if rng.random() < 0.05 else rng.choice(_SECTORS),
                    response_s="" if rng.random() < 0.1 else str(rng.randrange(30, 3600)),
                )
                r["Dispatch Beat"] = rng.choice(_BEATS)
                w.writerow(r)
                rows_meta.append((event, has_arrival, has_in_service))
                written += 1
    tainted = {e for e, arrived, in_svc in rows_meta if arrived and not in_svc}
    kept = sum(1 for e, arrived, _ in rows_meta if arrived and e not in tainted)
    return CsvExpectation(rows=n_rows, kept=kept, input_bytes=os.path.getsize(path))


# ---------------------------------------------------------------------------
# stream records (FIXTURES.md §2)
# ---------------------------------------------------------------------------

_CALL_TYPES = ["911", "ONVIEW", "TELEPHONE OTHER", "ALARM CALL"]
_INITIAL = ["DISTURBANCE", "SUSPICIOUS PERSON", "TRAFFIC", "THEFT", "ASSAULT"]
_DURATIONS = (
    "care_call_sign_total_service_time_s_",
    "spd_call_sign_total_service_time_s_",
    "call_sign_total_service_time_s_",
    "call_sign_dispatch_delay_time_s_",
    "call_sign_response_time_s_",
    "cad_event_first_response_time_s_",
)
PRIORITIES = [str(p) for p in range(1, 10)]
UPDATE_FRAC = 0.3  # records that update an earlier key
BAD_FRAC = 0.02  # records that break a DQ rule


@dataclass
class StreamState:
    """Last-write-wins expectation of the keyed store.

    ``latest[key]`` is the set of dispatch ids the store may hold for the
    key: the clean rows of the newest poll that carried the key. A set of
    two means two rows tied on (processed_at, epoch), and the sink's
    contract lets either win."""

    latest: dict[str, set[str]] = field(default_factory=dict)
    quarantined: int = 0

    def apply(self, poll: list[dict], clean: list[bool]) -> None:
        fresh: dict[str, set[str]] = {}
        for rec, ok in zip(poll, clean):
            if ok:
                fresh.setdefault(rec["cad_event_number"], set()).add(rec["call_sign_dispatch_id"])
            else:
                self.quarantined += 1
        self.latest.update(fresh)

    def tied_keys(self) -> int:
        return sum(1 for ids in self.latest.values() if len(ids) > 1)


class StreamGenerator:
    """Polls of call-data stream records with a fixed share of updates to
    earlier keys, multi-dispatch events (one key twice in one poll) and
    rows that break a DQ rule (a priority outside 1-9, or no call type)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.keys: list[str] = []
        self.state = StreamState()
        self._next_event = 0
        self._next_row = 0

    def _record(self, event: str) -> tuple[dict, bool]:
        rng = self.rng
        self._next_row += 1
        t = datetime(2024, 5, 1) + timedelta(seconds=rng.randrange(0, 30 * 86400))
        iso = lambda d: d.strftime("%Y-%m-%dT%H:%M:%S")  # noqa: E731
        rec = {
            "cad_event_number": event,
            "call_sign_dispatch_id": f"U{self._next_row:08d}{event}",
            "call_type": rng.choice(_CALL_TYPES),
            "priority": rng.choice(PRIORITIES),
            "initial_call_type": rng.choice(_INITIAL),
            "final_call_type": rng.choice(_INITIAL),
            "cad_event_clearance_description": "REPORT WRITTEN",
            "cad_event_response_category": "CHARLIE",
            "call_type_indicator": "911",
            "call_type_received_classification": "CALL",
            "dispatch_precinct": "NORTH",
            "dispatch_sector": rng.choice(_SECTORS),
            "dispatch_beat": rng.choice(_BEATS),
            "dispatch_neighborhood": "NORTHGATE",
            "dispatch_longitude": f"{-122.4 + rng.random() * 0.2:.5f}",
            "dispatch_latitude": f"{47.5 + rng.random() * 0.2:.5f}",
            "dispatch_reporting_area": str(rng.randrange(1000, 9999)),
            "cad_event_original_time_queued": iso(t),
            "cad_event_arrived_time": iso(t + timedelta(seconds=30)),
            "call_sign_dispatch_time": iso(t + timedelta(seconds=120)),
            "call_sign_at_scene_time": iso(t + timedelta(seconds=600)),
            "call_sign_in_service_time": iso(t + timedelta(seconds=3000)),
        }
        for c in _DURATIONS:
            v = rng.randrange(10, 4000)
            rec[c] = rng.choice((f"{v}", f"{v} s", f"~{v}~"))
        ok = rng.random() >= BAD_FRAC
        if not ok:
            if rng.random() < 0.5:
                rec["priority"] = "X"
            else:
                rec["call_type"] = None
        return rec, ok

    def poll(self, n: int) -> list[dict]:
        """One poll of ``n`` records; updates the expected state."""
        rng = self.rng
        out: list[dict] = []
        clean: list[bool] = []
        new_keys: list[str] = []
        while len(out) < n:
            if self.keys and rng.random() < UPDATE_FRAC:
                event = rng.choice(self.keys)
            else:
                self._next_event += 1
                event = f"{self._next_event:010d}"
                new_keys.append(event)
            copies = 2 if rng.random() < 0.1 and len(out) + 1 < n else 1
            for _ in range(copies):
                rec, ok = self._record(event)
                out.append(rec)
                clean.append(ok)
        self.keys.extend(new_keys)
        self.state.apply(out, clean)
        return out


# ---------------------------------------------------------------------------
# registry tables (the schema of the TPC-H-like test tables)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_OPRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query stream group "
    "filter big vector"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n) * np.timedelta64(86400_000_000, "us")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 3% are near-duplicates (one word
    replaced) of an earlier document and 0.5% exact copies, so the
    dedup/similarity queries have groups to find."""
    texts: list[str] = []
    vocab = np.array(_WORDS)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        elif i > 10 and r < 0.035:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 90)))))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[int(k)] for k in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{k % 20}" for k in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def write_query_tables(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """The ten registry tables at scale factor ``sf`` (sf 0.1 = 600k line
    items), one parquet file each; returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_ord else np.array([])
    n_li = len(l_order)
    o_date = _dates(rng, "1995-01-01", 2404, n_ord)
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_ev)
    ).astype("timedelta64[us]")

    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": [_PTYPES[k] for k in rng.integers(0, 6, n_part)],
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": o_date,
                "o_orderpriority": [_OPRIO[k] for k in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(l_order),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(l_lineno),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
                "l_shipdate": o_date[l_order]
                + rng.integers(1, 95, n_li) * np.timedelta64(86400_000_000, "us"),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(n_ev)),
                "ts": ev_ts,
                "user_id": i64(rng.integers(0, max(int(n_ev * 0.015), 1), n_ev)),
                "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
                "value": np.round(np.minimum(rng.exponential(50, n_ev), 560), 2),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
    return {name: tbl.num_rows for name, tbl in tables.items()}
