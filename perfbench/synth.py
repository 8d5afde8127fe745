"""Seeded, vectorized AIS raw-CSV synthesizer (FIXTURES.md §1).

Every day is one ``year=YYYY/month=MM/day=DD/part-0.csv`` drop. A fleet
(fixed by the seed) sails across all days, so voyages cross midnight. Each
drop plants, at known counts:

- mixed ``BaseDateTime`` formats (space, ``T``, ``.SSS``, ``Z``,
  ``+00:00``) and unparseable strings, which the cleaning chain drops;
- out-of-range coordinates (LAT 200/500, LON -300/-500): quarantined;
- rows with no MMSI and rows with MMSI 0 (corrupt feed);
- exact duplicate lines, removed by the content-hash dedup;
- SOG > 100, COG > 360, Heading 511 and Heading > 511 (clamped);
- anchored vessels at ~1,200 pings/day with coordinate jitter and a short
  manoeuvre, the rest at a per-fleet ping range, >3 h mid-day gaps (two
  voyages) and one ~9,000 km jump.

A drop may be written in the drifted schema
(``latitude/longitude/base_date_time/vessel_name`` plus an extra column).
The planted counts give the exact counters ``run_raw_to_staging`` must
return for the drop.

``write_catalog_tables`` makes the ``events``, ``documents`` and
``embeddings`` tables the query catalog reads, with planted near-duplicate
documents and vectors.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DRIFT_NAMES = {
    "LAT": "latitude",
    "LON": "longitude",
    "BaseDateTime": "base_date_time",
    "VesselName": "vessel_name",
}
INVALID_TS = ["not-a-date", "", "2024-13-45 25:61:00", "01/02/2024 10:00"]
# share of a day's rows given each planted defect
DEFECT_SHARE = 0.004


@dataclasses.dataclass(frozen=True)
class Fleet:
    """Per-vessel constants; the first ``FleetSize.anchored`` are anchored."""

    mmsi: np.ndarray
    pings: np.ndarray  # pings per day
    lat0: np.ndarray
    lon0: np.ndarray
    vlat: np.ndarray  # degrees per hour
    vlon: np.ndarray
    sog: np.ndarray  # cruising speed, knots
    gap: np.ndarray  # bool: >3h mid-day silence
    vtype: np.ndarray
    status: np.ndarray
    length: np.ndarray
    names: pa.Array
    imo: pa.Array
    callsign: pa.Array
    tclass: pa.Array


@dataclasses.dataclass(frozen=True)
class Drop:
    """One daily raw CSV drop and the counters its ingest must return."""

    path: str
    day: dt.date
    lines: int
    csv_bytes: int
    expected: dict


@dataclasses.dataclass(frozen=True)
class FleetSize:
    vessels: int
    anchored: int
    pings: tuple[int, int]  # per-day ping range of the vessels under way


def make_fleet(seed: int, size: FleetSize) -> Fleet:
    rng = np.random.default_rng(seed)
    n = size.vessels
    anchored = np.arange(n) < size.anchored
    fast = rng.random(n) < 0.3
    pings = np.where(
        anchored, rng.integers(1140, 1260, n), rng.integers(size.pings[0], size.pings[1] + 1, n)
    )
    speed = np.where(anchored, 0.0, np.where(fast, rng.uniform(10, 20, n), rng.uniform(0.5, 10, n)))
    heading = rng.uniform(0, 2 * np.pi, n)
    deg_per_h = speed * 1.852 / 111.0
    mmsi = rng.choice(np.arange(200_000_000, 775_999_999, 97), n, replace=False)
    ids = [str(int(m)) for m in mmsi]
    return Fleet(
        mmsi=mmsi.astype(np.int64),
        pings=pings,
        lat0=rng.uniform(-55, 55, n),
        lon0=rng.uniform(-170, 170, n),
        vlat=deg_per_h * np.cos(heading),
        vlon=deg_per_h * np.sin(heading),
        sog=speed,
        gap=(~anchored) & (rng.random(n) < 0.05),
        vtype=rng.choice([30, 31, 37, 52, 60, 70, 80], n),
        status=rng.integers(0, 16, n),
        length=np.round(rng.uniform(10, 300, n), 1),
        # every 25th vessel reports an empty name (empty -> null path)
        names=pa.array(["" if i % 25 == 7 else f"VESSEL {s}" for i, s in enumerate(ids)]),
        imo=pa.array([f"IMO{int(m) % 10_000_000:07d}" for m in mmsi]),
        callsign=pa.array([f"{'WKD'[i % 3]}{'CYX'[i % 3]}{int(m) % 10_000:04d}" for i, m in enumerate(mmsi)]),
        tclass=pa.array(["A" if i % 4 else "B" for i in range(n)]),
    )


def _timestamp_strings(rng, ts_ns: np.ndarray) -> pa.Array:
    """Render epoch-ns timestamps in five accepted formats, chosen per row."""
    base = pa.array(np.datetime_as_string(ts_ns.astype("datetime64[s]"), unit="s"))
    fmt = rng.integers(0, 5, len(ts_ns))
    spaced = pc.replace_substring(base, "T", " ")
    text = pc.if_else(pa.array((fmt == 0) | (fmt == 4)), spaced, base)
    millis = pc.utf8_lpad(pa.array(rng.integers(0, 1000, len(ts_ns))).cast(pa.string()), 3, "0")
    suffix = pc.choose(
        pa.array(fmt),
        pa.scalar(""),
        pa.scalar(""),
        pc.binary_join_element_wise(".", millis, ""),
        pa.scalar("Z"),
        pa.scalar("+00:00"),
    )
    return pc.binary_join_element_wise(text, suffix, "")


def _tracks(fleet: Fleet, day_index: int, day: dt.date, rng) -> dict:
    """One day of clean pings for the whole fleet, as numpy columns."""
    n_v = len(fleet.mmsi)
    vid = np.repeat(np.arange(n_v), fleet.pings)
    starts = np.cumsum(fleet.pings) - fleet.pings
    k = np.arange(len(vid)) - starts[vid]
    # strictly increasing, unique seconds per vessel: one ping per cadence slot
    sec = ((k + rng.uniform(0, 0.9, len(vid))) * 86_400 / fleet.pings[vid]).astype(np.int64)
    keep = ~(fleet.gap[vid] & (sec >= 36_000) & (sec < 36_000 + 4 * 3600))
    vid, sec = vid[keep], sec[keep]
    n = len(vid)
    hours = day_index * 24 + sec / 3600.0
    anchored = fleet.sog[vid] == 0.0
    lat = fleet.lat0[vid] + fleet.vlat[vid] * hours + rng.normal(0, 1e-4, n) * anchored
    lon = fleet.lon0[vid] + fleet.vlon[vid] * hours + rng.normal(0, 1e-4, n) * anchored
    # one ~9,000 km teleport: the last vessel jumps 81 degrees of longitude at noon
    lon = lon + 81.0 * ((vid == n_v - 1) & (sec >= 43_200))
    sog = np.where(anchored, 0.0, fleet.sog[vid] + rng.normal(0, 0.3, n))
    # anchored vessels make one short 3-5 kn manoeuvre around 14:00
    manoeuvre = anchored & (sec >= 50_400) & (sec < 51_600)
    sog = np.where(manoeuvre, rng.uniform(3, 5, n), sog)
    ts_ns = np.datetime64(day, "ns").astype(np.int64) + sec * 1_000_000_000
    return {
        "vid": vid,
        "ts": ts_ns.astype("datetime64[ns]"),
        "lat": np.round(np.clip(lat, -89.9, 89.9), 6),
        "lon": np.round((lon + 180.0) % 360.0 - 180.0, 6),
        "sog": np.round(np.maximum(sog, 0.0), 1),
        "cog": np.round(rng.uniform(0, 360, n), 1),
        "heading": rng.integers(0, 360, n).astype(np.float64),
        "draft": pa.array(np.round(rng.uniform(2, 15, n), 1), mask=rng.random(n) < 0.1),
        "cargo": pa.array(fleet.vtype[vid], mask=rng.random(n) < 0.2),
    }


def _columns(fleet: Fleet, t: dict, mmsi, ts) -> dict:
    v = pa.array(t["vid"])
    return {
        "MMSI": mmsi,
        "BaseDateTime": ts,
        "LAT": t["lat"],
        "LON": t["lon"],
        "SOG": t["sog"],
        "COG": t["cog"],
        "Heading": t["heading"],
        "VesselName": fleet.names.take(v),
        "IMO": fleet.imo.take(v),
        "CallSign": fleet.callsign.take(v),
        "VesselType": fleet.vtype[t["vid"]],
        "Status": fleet.status[t["vid"]],
        "Length": fleet.length[t["vid"]],
        "Width": np.round(fleet.length[t["vid"]] / 6.5, 1),
        "Draft": t["draft"],
        "Cargo": t["cargo"],
        "TransceiverClass": fleet.tclass.take(v),
    }


def _day_table(fleet: Fleet, day_index: int, day: dt.date, rng) -> tuple[pa.Table, dict]:
    t = _tracks(fleet, day_index, day, rng)
    vid, lat, lon, sog, cog, heading = (t[c] for c in ("vid", "lat", "lon", "sog", "cog", "heading"))
    n = len(vid)

    # planted defects on disjoint rows; corrupt MMSIs come from vessel 0's
    # own track so no two corrupt-id rows share a timestamp
    v0_rows = np.flatnonzero(vid == 0)
    n_def = max(1, min(int(n * DEFECT_SHARE), len(v0_rows) // 4))
    v0_pick = rng.choice(v0_rows, 2 * n_def, replace=False)
    null_mmsi, zero_mmsi = v0_pick[:n_def], v0_pick[n_def:]
    others = np.setdiff1d(np.arange(n), v0_pick)
    pick = rng.choice(others, 7 * n_def, replace=False)
    bad_ts, bad_coord, dup_src, hi_sog, hi_cog, hd511, hd_hi = np.split(pick, 7)

    mmsi = fleet.mmsi[vid].copy()
    mmsi[zero_mmsi] = 0
    mmsi_mask = np.zeros(n, bool)
    mmsi_mask[null_mmsi] = True
    sog[hi_sog] = 150.0
    cog[hi_cog] = 500.0
    heading[hd511] = 511.0
    heading[hd_hi] = 900.0
    bc = rng.integers(0, 4, n_def)
    lat[bad_coord] = np.where(bc == 0, 200.0, np.where(bc == 1, 500.0, lat[bad_coord]))
    lon[bad_coord] = np.where(bc == 2, -300.0, np.where(bc == 3, -500.0, lon[bad_coord]))

    ts = _timestamp_strings(rng, t["ts"])
    ts_bad = pa.array([INVALID_TS[i % len(INVALID_TS)] for i in range(n_def)])
    ts = pc.replace_with_mask(ts, pa.array(np.isin(np.arange(n), bad_ts)), ts_bad)
    table = pa.table(_columns(fleet, t, pa.array(mmsi, mask=mmsi_mask), ts))
    table = pa.concat_tables([table, table.take(pa.array(np.sort(dup_src)))])
    expected = {
        "rows_written": n - 2 * n_def,  # minus unparseable ts and bad coords
        "quarantined": n_def,
        "null_mmsi": n_def,
    }
    return table, expected


def write_days(
    out_dir: str,
    seed: int,
    first_day: dt.date,
    n_days: int,
    size: FleetSize,
    drift_days: tuple[int, ...] = (),
) -> list[Drop]:
    """Write ``n_days`` daily drops under ``out_dir``; ``drift_days`` are day
    indexes written in the drifted schema. Same seed, same bytes."""
    fleet = make_fleet(seed, size)
    drops = []
    for i in range(n_days):
        day = first_day + dt.timedelta(days=i)
        table, expected = _day_table(fleet, i, day, np.random.default_rng([seed, i]))
        if i in drift_days:
            table = table.rename_columns([DRIFT_NAMES.get(c, c) for c in table.column_names])
            table = table.append_column("SourceFeed", pa.array(["feed-b"] * table.num_rows))
        part = os.path.join(out_dir, f"year={day.year:04d}", f"month={day.month:02d}", f"day={day.day:02d}")
        os.makedirs(part, exist_ok=True)
        path = os.path.join(part, "part-0.csv")
        pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
        drops.append(Drop(part, day, table.num_rows, os.path.getsize(path), expected))
    return drops


def write_staging(
    out_dir: str,
    seed: int,
    first_day: dt.date,
    n_days: int,
    size: FleetSize,
) -> list[int]:
    """Write clean pings straight into a staging table (the parquet layout
    and types ``run_raw_to_staging`` produces), one partition per day.
    Returns the row count of each day."""
    fleet = make_fleet(seed, size)
    rows = []
    for i in range(n_days):
        day = first_day + dt.timedelta(days=i)
        t = _tracks(fleet, i, day, np.random.default_rng([seed, i]))
        cols = _columns(
            fleet,
            t,
            pa.array(fleet.mmsi[t["vid"]], pa.int32()),
            pa.array(t["ts"], pa.timestamp("us", tz="UTC")),
        )
        for c in ("VesselType", "Status", "Cargo"):
            cols[c] = pa.array(cols[c], pa.int32())
        cols["MovementFlag"] = pa.array((t["sog"] > 0).astype(np.int32))
        part = os.path.join(out_dir, f"year={day.year}", f"month={day.month}", f"day={day.day}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(part, "part-0.parquet"))
        rows.append(len(t["vid"]))
    return rows


EVENT_TYPES = ["view", "click", "purchase", "error", "login"]


def _documents(rng, n_docs: int, vocab_n: int) -> tuple[pa.Table, np.ndarray]:
    """Random documents over a large vocabulary (unrelated pairs share
    almost no tokens), a fifth of them followed by 1-3 near-copies with
    2-6% of their tokens replaced, or exact copies. Also returns each
    document's cluster: the id of the document it copies, or its own."""
    vocab = np.array([f"w{i}" for i in range(vocab_n)])
    texts: list[str] = []
    cluster: list[int] = []
    while len(texts) < n_docs:
        base = vocab[rng.integers(0, vocab_n, rng.integers(40, 121))]
        origin = len(texts)
        texts.append(" ".join(base))
        copies = rng.integers(1, 4) if rng.random() < 0.2 else 0
        for _ in range(min(copies, n_docs - len(texts))):
            mut = base.copy()
            if rng.random() >= 0.25:
                k = max(1, int(len(mut) * rng.uniform(0.02, 0.06)))
                mut[rng.integers(0, len(mut), k)] = vocab[rng.integers(0, vocab_n, k)]
            texts.append(" ".join(mut))
        cluster += [origin] * (len(texts) - origin)
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(["en", "en", "de", "fr"])[rng.integers(0, 4, n_docs)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, np.array(cluster)


def _embeddings(rng, n_vecs: int, dim: int) -> pa.Table:
    """Unit vectors; a sixth of them are followed by a noisy near-copy."""
    vecs = rng.standard_normal((n_vecs, dim))
    copy = np.flatnonzero(rng.random(n_vecs - 1) < 0.17) + 1
    copy = copy[np.diff(copy, prepend=-1) > 1]  # a copy's source is never a copy
    vecs[copy] = vecs[copy - 1] / np.linalg.norm(vecs[copy - 1], axis=1, keepdims=True) + (
        rng.standard_normal((len(copy), dim)) * rng.uniform(0.01, 0.05, (len(copy), 1))
    )
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )


def _events(rng, n_events: int, n_users: int, days: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, days * 86_400_000_000, n_events))
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": np.round(rng.uniform(0, 500, n_events), 2),
            "props": pc.binary_join_element_wise(
                '{"k": ', pa.array(rng.integers(0, 100, n_events)).cast(pa.string()), "}", ""
            ),
        }
    )


def write_catalog_tables(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``events``, ``documents`` and ``embeddings`` parquet files in
    the layout the query catalog loads (``<dir>/<table>.parquet``). Returns
    the tables, and ``doc_cluster``: each document's planted cluster."""
    rng = np.random.default_rng([seed, 99])
    os.makedirs(out_dir, exist_ok=True)
    documents, doc_cluster = _documents(rng, n_docs, 5000)
    tables = {
        "events": _events(rng, n_events, max(1, n_events // 60), 30),
        "documents": documents,
        "embeddings": _embeddings(rng, n_vecs, 64),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {**tables, "doc_cluster": doc_cluster}
