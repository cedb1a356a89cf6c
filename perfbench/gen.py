"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs.  The program under test only ever sees the
files written here.

- ``corpus``: the ten corpus tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) with the schemas of
  FIXTURES.md section B, at about sf0.01 row counts.
- ``taxi_batch``: one raw green-taxi CSV batch with the reference
  header, realistic value spread, blank lines and trailing extra
  fields.  Every data row keeps at least 20 fields, so the
  ``fail_fast`` cleaner never raises.
- ``event_batches``: time slices of an event stream with seeded
  duplicate ``event_id``s and rows that arrive later than the
  streaming watermark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window order data column join small big line customer query group sort "
    "filter stream vector plan cost index shard token text model"
).split()
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_EVENT_P = [0.45, 0.3, 0.1, 0.05, 0.1]


def source_digest() -> str:
    """Digest of this file: cached inputs are reused only while the
    generator code that wrote them is unchanged."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    us = (epoch + seconds.astype(np.int64)) * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ordering_customers(rng: np.random.Generator, n_cust: int, n: int) -> np.ndarray:
    keys = np.arange(n_cust, dtype=np.int64)
    return rng.choice(keys[keys % 3 != 0], n)


def corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write the corpus parquet files; return row counts per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = CORPUS_ROWS
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])].tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    colors = np.array(["red", "blue", "green", "small", "large", "shiny"])
    things = np.array(["widget", "bolt", "ring", "gear", "valve", "spring"])
    ptypes = np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"])
    n_part = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{c} {t}" for c, t in zip(
            colors[rng.integers(0, 6, n_part)], things[rng.integers(0, 6, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    n_ord = n["orders"]
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        # as in TPC-H, every third customer never orders
        "o_custkey": pa.array(_ordering_customers(rng, n["customer"], n_ord)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_day * 86400),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)].tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          (np.repeat(order_day, lines) + rng.integers(0, 120, n_li)) * 86400),
    })
    n_ev = n["events"]
    ev_sec = np.sort(rng.integers(0, 30 * 86400, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_sec),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": np.array(_EVENT_TYPES)[rng.choice(5, n_ev, p=_EVENT_P)].tolist(),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = n["documents"]
    words = np.array(_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.1:  # planted near-duplicates
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_doc)].tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_emb = n["embeddings"]
    vec = rng.normal(size=(n_emb, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    counts = dict(n)
    counts.update(region=5, nation=25, lineitem=n_li)
    return counts


# ---------------------------------------------------------------------------
# green-taxi CSV
# ---------------------------------------------------------------------------

TAXI_HEADER = (
    "VendorID,lpep_pickup_datetime,Lpep_dropoff_datetime,Store_and_fwd_flag,"
    "RateCodeID,Pickup_longitude,Pickup_latitude,Dropoff_longitude,Dropoff_latitude,"
    "Passenger_count,Trip_distance,Fare_amount,Extra,MTA_tax,Tip_amount,Tolls_amount,"
    "Ehail_fee,Total_amount,Payment_type,Trip_type"
)
BLANK_LINE_RATE = 0.02
EXTRA_FIELDS_RATE = 0.05


def _coord(rng: np.random.Generator, center: float, spread: float, n: int) -> list[str]:
    v = rng.normal(center, spread, n)
    v[rng.random(n) < 0.01] = 0.0  # the dataset's missing-position sentinel
    return ["0" if x == 0.0 else f"{x:.15f}" for x in v]


def taxi_batch(seed: int, batch: int, rows: int, path: str) -> dict:
    """Write one raw CSV batch; return what a correct ingest must land:
    row count, per-pickup-hour counts and the sum of trip durations."""
    rng = np.random.default_rng([seed, 2, batch])
    start = int(dt.datetime(2013, 9, 1, tzinfo=dt.timezone.utc).timestamp())
    pickup = start + rng.integers(0, 30 * 86400, rows)
    duration = rng.gamma(2.0, 420.0, rows).astype(np.int64)
    flip = rng.random(rows) < 0.002  # clock skew: dropoff before pickup
    duration[flip] = -rng.integers(1, 600, int(flip.sum()))
    dropoff = pickup + duration
    pick_s = np.datetime_as_string(pickup.astype("datetime64[s]"), unit="s")
    drop_s = np.datetime_as_string(dropoff.astype("datetime64[s]"), unit="s")
    dist = np.minimum(rng.gamma(1.5, 2.0, rows), 99.99)
    fare = np.minimum(2.5 + dist * 2.5 + rng.normal(0, 1.0, rows), 9999.99)
    fare[rng.random(rows) < 0.003] = -0.5  # refunds occur in the real data
    extra = rng.choice([0.0, 0.5, 1.0], rows)
    tip = np.where(rng.random(rows) < 0.4, np.round(fare * rng.uniform(0.1, 0.25, rows), 2), 0.0)
    tolls = np.where(rng.random(rows) < 0.03, 5.33, 0.0)
    total = np.minimum(np.maximum(fare + extra + 0.5 + tip + tolls, 0.0), 9999.99)
    cols = [
        rng.integers(1, 3, rows).astype(str),
        np.char.replace(pick_s, "T", " "),
        np.char.replace(drop_s, "T", " "),
        np.where(rng.random(rows) < 0.01, "Y", "N"),
        rng.choice(["1", "1", "1", "2", "5", "99"], rows),
        _coord(rng, -73.95, 0.05, rows),
        _coord(rng, 40.75, 0.05, rows),
        _coord(rng, -73.95, 0.06, rows),
        _coord(rng, 40.75, 0.06, rows),
        rng.integers(0, 8, rows).astype(str),
        np.char.mod("%.2f", dist),
        np.char.mod("%.2f", fare),
        np.char.mod("%.2f", extra),
        np.full(rows, "0.50"),
        np.char.mod("%.2f", tip),
        np.char.mod("%.2f", tolls),
        np.full(rows, ""),
        np.char.mod("%.2f", total),
        rng.integers(1, 5, rows).astype(str),
        np.where(rng.random(rows) < 0.001, "1", ""),
    ]
    data = [",".join(f) for f in zip(*cols)]
    extra_fields = rng.random(rows) < EXTRA_FIELDS_RATE
    blank_after = rng.random(rows) < BLANK_LINE_RATE
    out = [TAXI_HEADER]
    for line, more, blank in zip(data, extra_fields, blank_after):
        out.append(line + ",," if more else line)
        if blank:
            out.append("   " if rows % 2 else "")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    hours = ((pickup - start) // 3600) % 24
    return {
        "rows": rows,
        "hour_counts": np.bincount(hours, minlength=24).tolist(),
        "duration_sum": int(duration.sum()),
        "bytes": os.path.getsize(path),
    }


# ---------------------------------------------------------------------------
# event stream batches
# ---------------------------------------------------------------------------

SLICE_SECONDS = 3600
DUP_RATE = 0.05
LATE_RATE = 0.02


def event_batches(seed: int, n_batches: int, rows: int) -> list[dict]:
    """Event batches, each one hour of event time after the previous.

    Each batch carries ``DUP_RATE`` re-sent copies of events from the
    same or the previous slice (same ``event_id`` and ``ts``), and from
    the third batch on ``LATE_RATE`` late rows stamped at least four
    hours behind the slice start, i.e. behind the two-hour watermark
    of every window they would fall in.  Returns per batch the arrow
    table and the masks a checker needs."""
    rng = np.random.default_rng([seed, 3])
    base = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
    out: list[dict] = []
    next_id = 0
    prev = None
    for b in range(n_batches):
        start = base + b * SLICE_SECONDS
        sec = np.sort(start + rng.integers(0, SLICE_SECONDS, rows))
        ids = np.arange(next_id, next_id + rows, dtype=np.int64)
        next_id += rows
        cols = {
            "event_id": ids,
            "ts": sec,
            "user_id": rng.integers(0, 500, rows).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.choice(5, rows, p=_EVENT_P)],
            "value": _money(rng, 0.01, 490.0, rows),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
        n_dup = int(rows * DUP_RATE)
        pool = cols if prev is None or b % 2 == 0 else prev
        pick = rng.integers(0, rows, n_dup)
        n_late = int(rows * LATE_RATE) if b >= 2 else 0
        late = {
            "event_id": np.arange(next_id, next_id + n_late, dtype=np.int64),
            "ts": start - 4 * 3600 - rng.integers(0, 6 * 3600, n_late),
            "user_id": rng.integers(0, 500, n_late).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_late)],
            "value": _money(rng, 0.01, 490.0, n_late),
            "props": np.array(['{"k": 0}'] * n_late),
        }
        next_id += n_late
        merged = {
            k: np.concatenate([cols[k], pool[k][pick], late[k]]) for k in cols
        }
        is_late = np.concatenate([np.zeros(rows + n_dup, bool), np.ones(n_late, bool)])
        order = rng.permutation(len(is_late))
        merged = {k: v[order] for k, v in merged.items()}
        table = pa.table({
            "event_id": pa.array(merged["event_id"]),
            "ts": pa.array(merged["ts"] * 1_000_000, type=pa.timestamp("us")),
            "user_id": pa.array(merged["user_id"]),
            "event_type": pa.array(merged["event_type"].tolist()),
            "value": pa.array(merged["value"]),
            "props": pa.array(merged["props"].tolist()),
        })
        out.append({"table": table, "late": is_late[order]})
        prev = cols
    return out
