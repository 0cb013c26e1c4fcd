"""Seeded input generators and the statistics run.py reports.

Everything here is deterministic in its seed and free of side effects
except the parquet writers, so it is unit-tested in test_benchlib.py.
"""

import json
import math
import os

import numpy as np

# ---- fixed shape of the generated data --------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1500
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z
SERVE_DAYS = 30
SERVE_EVENTS = 100_000  # the sf0.1 events row count

# The sensor grid the product maps user_id onto (SensorGrid.scala): 50
# cells, 10 rows of latitude x 5 columns of longitude in Antwerp.
N_CELLS = 50
ANTWERP = (51.31, 4.31, 51.17, 4.50)  # N, W, S, E


def sensor(cell):
    return 51.18 + (cell % 10) * 0.012, 4.32 + (cell // 10) * 0.035


_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat, lon, precision):
    """Standard base-32 geohash (used only to pick request cells)."""
    lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
    out, bits, ch, even = [], 0, 0, True
    while len(out) < precision:
        rng, v = (lon_r, lon) if even else (lat_r, lat)
        mid = (rng[0] + rng[1]) / 2
        ch <<= 1
        if v >= mid:
            ch |= 1
            rng[0] = mid
        else:
            rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_B32[ch])
            bits, ch = 0, 0
    return "".join(out)


SENSOR_GH6 = sorted({geohash(*sensor(c), 6) for c in range(N_CELLS)})


# ---- bulk tables ------------------------------------------------------

def _events(rng, n, t0_ms, span_ms, first_id=0):
    ts = np.sort(rng.integers(0, span_ms * 1000, size=n)) + t0_ms * 1000
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
        "user_id": rng.integers(0, N_USERS, size=n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.uniform(0.0, 560.0, size=n), 2),
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]),
    }


def serve_events(seed):
    rng = np.random.default_rng([seed, 1])
    return _events(rng, SERVE_EVENTS, T0_MS, SERVE_DAYS * 86_400_000)


def write_parquet(cols, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {}
    for k, v in cols.items():
        if k == "ts_us":
            arrays["ts"] = pa.array(v, type=pa.timestamp("us", tz="UTC"))
        else:
            arrays[k] = pa.array(v)
    tmp = path + ".tmp"
    pq.write_table(pa.table(arrays), tmp)
    os.replace(tmp, path)


# ---- serve: the request stream -----------------------------------------

RESOLUTIONS = ["min", "hour", "day"]
AGGS = ["avg", "sum", "count"]
# history [from, to) span per resolution, in hours: hours for minute
# views, days for hourly views, weeks for daily views
SPAN_HOURS = {"min": (1, 12), "hour": (24, 7 * 24), "day": (7 * 24, 4 * 7 * 24)}


def shape_pool(n=48):
    """The finite pool of request shapes, most popular first. It is the
    same for every seed and balanced by construction (history and
    snapshot alternate; resolutions, aggregates, metrics, cell counts,
    geo indexes and bbox sizes cycle), so seeds differ in which requests
    they draw, not in the mix they draw from."""
    pool = []
    for i in range(n):
        shape = {"kind": "history" if i % 2 == 0 else "snapshot",
                 "metric": EVENT_TYPES[i % 5], "agg": AGGS[(i // 6) % 3],
                 "res": RESOLUTIONS[(i // 2) % 3], "local": i % 5 == 0}
        if shape["kind"] == "history":
            shape["cells"] = 1 + (i * 3) % 8
        else:
            shape["geo_index"] = ("geohashing", "quadtiling")[(i // 6) % 2]
            shape["frac"] = (0.1, 0.2, 0.3)[(i // 4) % 3]  # bbox side share
        pool.append(shape)
    return pool


def _literals(rng, shape):
    span_ms = SERVE_DAYS * 86_400_000
    if shape["kind"] == "history":
        lo, hi = SPAN_HOURS[shape["res"]]
        dur = int(rng.integers(lo, hi + 1)) * 3_600_000
        frm = T0_MS + int(rng.integers(0, span_ms - dur)) // 60_000 * 60_000
        cells = sorted(rng.choice(SENSOR_GH6, size=shape["cells"], replace=False))
        return {"cells": [str(c) for c in cells], "from": frm, "to": frm + dur}
    n, w, s, e = ANTWERP
    hgt, wid = (n - s) * shape["frac"], (e - w) * shape["frac"]
    south = s + rng.random() * (n - s - hgt)
    west = w + rng.random() * (e - w - wid)
    return {"bbox": [round(south + hgt, 5), round(west, 5), round(south, 5), round(west + wid, 5)],
            "ts": T0_MS + int(rng.integers(0, span_ms))}


def request_url(shape, lit):
    base = "/api/airquality/%s/aggregate/%s/%s" % (shape["metric"], shape["agg"], shape["kind"])
    if shape["kind"] == "history":
        q = "geohashes=%s&gh_precision=6&res=%s&from=%d&to=%d" % (
            ",".join(lit["cells"]), shape["res"], lit["from"], lit["to"])
    else:
        prec = 6 if shape["geo_index"] == "geohashing" else 14
        q = "ts=%d&bbox=%s&gh_precision=%d&res=%s&geo_index=%s" % (
            lit["ts"], ",".join("%.5f" % c for c in lit["bbox"]), prec, shape["res"],
            shape["geo_index"])
    if shape["local"]:
        q += "&local=true"
    return base + "?" + q


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def zipf_counts(n, count, s=1.1):
    """How many of `count` requests each of `n` shapes gets: the Zipf
    weights rounded to whole requests by largest remainder."""
    w = zipf_weights(n, s) * count
    c = np.floor(w).astype(int)
    c[np.argsort(c - w, kind="stable")[:count - c.sum()]] += 1
    return c


def request_stream(rng, shapes, canon, count, exact_share=0.15):
    """Requests alternate history and snapshot. Each kind's requests are
    spread over that kind's part of the pool by a Zipf law, stratified
    rather than sampled: the number of requests per shape is the same
    for every seed, so seeds differ in order and literals, not in mix.
    A fixed share repeat their shape's canonical literals exactly, the
    rest draw fresh literals."""
    queues = []
    for k, kind in enumerate(("history", "snapshot")):
        ix = [i for i, s in enumerate(shapes) if s["kind"] == kind]
        n_k = (count + 1 - k) // 2
        order = np.repeat(ix, zipf_counts(len(ix), n_k))
        rng.shuffle(order)
        exact = np.arange(n_k) < round(exact_share * n_k)
        rng.shuffle(exact)
        queues.append(list(zip(order, exact)))
    out = []
    for k in range(count):
        i, exact = queues[k % 2][k // 2]
        lit = canon[i] if exact else _literals(rng, shapes[i])
        out.append(request_url(shapes[i], lit))
    return out


def serve_plan(seed, rate, open_count, closed_count):
    """Open-loop requests due at a fixed rate, then a closed-loop list."""
    rng = np.random.default_rng([seed, 4])
    shapes = shape_pool()
    canon = [_literals(rng, s) for s in shapes]
    return {
        "open": {"due_s": [(i + 0.5) / rate for i in range(open_count)],
                 "urls": request_stream(rng, shapes, canon, open_count)},
        "closed": {"urls": request_stream(rng, shapes, canon, closed_count)},
    }


# ---- ingest: chunks of out-of-order events ----------------------------

def ingest_chunks(seed, n_chunks, rows_per_chunk, late_share=0.1, max_late_chunks=8):
    """Events for `n_chunks` arrival chunks, one event-time minute each.

    A `late_share` of rows arrives up to `max_late_chunks` chunks after
    its own minute: out of order across chunk boundaries, yet always
    well inside a one-hour watermark, so no row is ever dropped.
    Returns one column dict per chunk.
    """
    rng = np.random.default_rng([seed, 5])
    total = n_chunks * rows_per_chunk
    ev = _events(rng, total, T0_MS, n_chunks * 60_000)
    own = (ev["ts_us"] // 1000 - T0_MS) // 60_000
    delay = np.where(rng.random(total) < late_share,
                     rng.integers(1, max_late_chunks + 1, size=total), 0)
    arrival = np.minimum(own + delay, n_chunks - 1)
    return [{k: v[arrival == c] for k, v in ev.items()} for c in range(n_chunks)]


# ---- statistics --------------------------------------------------------

def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100] (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_pct(n):
    """The highest percentile with at least ten of `n` samples beyond
    it, kept between p50 and p90."""
    return max(50.0, min(90.0, 100.0 * (1 - 10.0 / n)))


def due_latencies_ms(due_s, done_s):
    """Open-loop latency: each request is timed from when it was DUE,
    not from when the generator got round to sending it, so a stalled
    generator or server shows up as latency (no coordinated omission)."""
    if len(due_s) != len(done_s):
        raise ValueError("due and done lengths differ")
    return [(d - u) * 1000.0 for u, d in zip(due_s, done_s)]


def dump(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f)
