"""Seeded inputs for the benchmark, rendered from the corpus in `corpus/`.

`corpus/` holds the repository's sf0.1 testdata tables `events`,
`customer` and `embeddings`, unchanged (their sha256 sums are listed in
README.md). The seed picks a sample of them and drives the rendering rules;
nothing else varies.

* A delivery month: a seeded sample of `events` (the share `share` of each
  day, 0.3 in the benchmark) joined to `customer`, rendered into
  per-delivery-day source dirs in the declared STG schema (`couriers`:
  courier_key, courier_name; `deliveries`: json_response, delivery_ts
  TIMESTAMP), plus the pre-existing `dm_orders` dimension and its order
  timestamps.
* An `embeddings` corpus: a seeded subset of the sf0.1 vectors, renumbered
  0..n-1 in the seeded order (the queries pick their probes by `vec_id`).

Delivery rendering, one delivery per sampled event. The field mapping is the
engine's own corpus role mapping (`graft.stages.EventsAdapter`):
  - delivery key `d<event_id>`, order key `o<event_id>`, courier key
    `c<user_id>` named by the customer's `c_name`;
  - `delivery_ts` is the event's `ts`, taken as UTC; the delivery day is its
    calendar day, so no row arrives behind the watermark;
  - rating is `props.k % 6` (0-5, 0 = unrated), `sum` is `value`,
    `tip_sum` is 5 % of it, both two-decimal exact;
  - the corpus has no order time: each order was placed a seeded 5-90
    minutes before delivery, so the first deliveries settle in December.
Scenario rules, seeded:
  - each day's courier snapshot renames 2 % of the couriers (SCD1);
  - each day re-delivers the last 5 % of the previous day's deliveries
    (the landing must ignore them: SCD0).
"""
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
DAY_US = 86_400 * 1_000_000
RENAME_SHARE = 0.02
REDELIVER_SHARE = 0.05


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _iso(us: int) -> str:
    return (EPOCH + timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S.%f")


def sample_events(seed: int, share: float) -> dict:
    """A seeded sample of the corpus events, as numpy columns in ts order,
    with each courier's name."""
    ev = pq.read_table(f"{CORPUS}/events.parquet",
                       columns=["event_id", "ts", "user_id", "value", "props"])
    cust = pq.read_table(f"{CORPUS}/customer.parquet", columns=["c_custkey", "c_name"])
    name_of = dict(zip(cust["c_custkey"].to_pylist(), cust["c_name"].to_pylist()))
    couriers = np.unique(ev["user_id"].to_numpy())
    rng = np.random.default_rng([seed, 1])
    # the same share of every day, so a day's size (and every ratio to it)
    # does not depend on the seed
    day = ev["ts"].cast(pa.int64()).to_numpy() // DAY_US
    keep = np.sort(np.concatenate([
        rng.choice(rows, round(share * len(rows)), replace=False)
        for rows in (np.flatnonzero(day == d) for d in np.unique(day))]))
    ev = ev.take(keep)
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    order = np.argsort(ts, kind="stable")
    return {
        "event_id": ev["event_id"].to_numpy()[order],
        "ts_us": ts[order],
        "user_id": ev["user_id"].to_numpy()[order],
        "value": ev["value"].to_numpy()[order],
        "rating": np.array([json.loads(p)["k"] % 6 for p in ev["props"].to_pylist()])[order],
        "order_lead_us": rng.integers(5 * 60_000_000, 90 * 60_000_000, len(keep)),
        "couriers": couriers,
        "names": [name_of[int(u)] for u in couriers],
    }


def _payload(c: dict, i: int) -> str:
    v = float(c["value"][i])
    ts = int(c["ts_us"][i])
    return json.dumps({
        "order_id": f"o{c['event_id'][i]}",
        "order_ts": _iso(ts - int(c["order_lead_us"][i])),
        "delivery_id": f"d{c['event_id'][i]}",
        "courier_id": f"c{c['user_id'][i]}",
        "address": f"street {c['user_id'][i] % 97}",
        "delivery_ts": _iso(ts),
        "rate": int(c["rating"][i]),
        "sum": float(f"{v:.2f}"),
        "tip_sum": float(f"{round(v * 0.05, 2):.2f}"),
    }, separators=(",", ":"))


def _deliveries(c: dict, idx: np.ndarray) -> pa.Table:
    return pa.table({
        "json_response": pa.array([_payload(c, int(i)) for i in idx], pa.string()),
        "delivery_ts": pa.array(c["ts_us"][idx], pa.timestamp("us", tz="UTC")),
    })


def _couriers(keys: np.ndarray, names: list) -> pa.Table:
    return pa.table({
        "courier_key": pa.array([f"c{k}" for k in keys], pa.string()),
        "courier_name": pa.array(names, pa.string()),
    })


def render_month(seed: int, out: str, share: float, preload_days: int) -> dict:
    """Render the month under `out`.

    `out/day01..dayNN` are the daily source dirs; `out/pre` holds days
    1..preload_days as one source (the preload, a cold-start backfill of
    those days), `out/seed` the order dim and its timestamps. Returns a
    manifest: rows and source bytes per source dir.
    """
    c = sample_events(seed, share)
    rng = np.random.default_rng([seed, 2])
    first_day = c["ts_us"][0] // DAY_US
    day_of = c["ts_us"] // DAY_US - first_day
    names = list(c["names"])
    days = {}
    prev_idx = np.array([], dtype=np.int64)
    all_idx = []
    snapshots = []  # courier names as of each day
    for d in range(int(day_of[-1]) + 1):
        renamed = rng.random(len(names)) < RENAME_SHARE
        for j in np.flatnonzero(renamed):
            names[j] = f"{c['names'][j]} (r{d + 1:02d})"
        idx = np.flatnonzero(day_of == d)
        tail = prev_idx[len(prev_idx) - int(len(prev_idx) * REDELIVER_SHARE):]
        sent = np.concatenate([tail, idx])
        name = f"day{d + 1:02d}"
        src_bytes = _write(_couriers(c["couriers"], names), f"{out}/{name}/couriers/part-0.parquet")
        src_bytes += _write(_deliveries(c, sent), f"{out}/{name}/deliveries/part-0.parquet")
        days[name] = {"rows": int(len(sent)), "source_bytes": src_bytes}
        all_idx.append(sent)
        snapshots.append(list(names))
        prev_idx = idx

    sent = np.concatenate(all_idx[:preload_days])
    pre_bytes = _write(_couriers(c["couriers"], snapshots[preload_days - 1]),
                       f"{out}/pre/couriers/part-0.parquet")
    pre_bytes += _write(_deliveries(c, sent), f"{out}/pre/deliveries/part-0.parquet")
    days["pre"] = {"rows": int(len(sent)), "source_bytes": pre_bytes}

    # the pre-existing order dimension and the timestamps its rows point at:
    # dm_timestamps ids 1..n in ts order, dm_orders.timestamp_id -> that id
    order_us = c["ts_us"] - c["order_lead_us"]
    uniq = np.unique(order_us)
    ts_id = np.searchsorted(uniq, order_us) + 1
    stamps = [EPOCH + timedelta(microseconds=int(u)) for u in uniq]
    _write(pa.table({
        "id": pa.array(np.arange(1, len(uniq) + 1), pa.int32()),
        "ts": pa.array(uniq, pa.timestamp("us", tz="UTC")),
        "year": pa.array([s.year for s in stamps], pa.int32()),
        "month": pa.array([s.month for s in stamps], pa.int32()),
        "day": pa.array([s.day for s in stamps], pa.int32()),
        "time": pa.array([s.strftime("%H:%M:%S") for s in stamps], pa.string()),
        "date": pa.array([s.date() for s in stamps], pa.date32()),
    }), f"{out}/seed/dm_timestamps/part-0.parquet")
    _write(pa.table({
        "order_key": pa.array([f"o{i}" for i in c["event_id"]], pa.string()),
        "id": pa.array(c["event_id"] + 1, pa.int32()),
        "timestamp_id": pa.array(ts_id, pa.int32()),
    }), f"{out}/seed/dm_orders/part-0.parquet")
    return days


def embeddings(seed: int, out: str, sizes: dict) -> dict:
    """Disjoint seeded subsets of the corpus vectors, one per name in
    `sizes`, each written to `out/<name>/embeddings.parquet` with `vec_id`
    renumbered 0..n-1. Returns the bytes written per name."""
    t = pq.read_table(f"{CORPUS}/embeddings.parquet", columns=["embedding", "label"])
    perm = np.random.default_rng([seed, 3]).permutation(t.num_rows)
    written, at = {}, 0
    for name, n in sizes.items():
        sub = t.take(perm[at:at + n])
        at += n
        written[name] = _write(pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": sub["embedding"],
            "label": sub["label"],
        }), f"{out}/{name}/embeddings.parquet")
    return written
