"""Input generator for the benchmark: every input is a pure function of its seed.

Batch tables follow the schemas of the catalog's fixture tables (TPC-H-like
star schema, `events`, `documents`, `embeddings`). Their content comes from a
fixed content seed, so the face results checked against `expected.json` hold;
the run seed permutes the physical row order of every table, which changes
the input files and the order rows reach each operator, not the results.

The stream inputs (weather readings and hotel records, with the time each is
due to be sent) are drawn from the run seed alone.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

# Row counts: sf0.01 for the relational tables, more documents so the text
# kernels do per-row work that outweighs task scheduling.
ROWS = {
    "region": 5, "nation": 25, "supplier": 100, "part": 2000,
    "customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 2000, "embeddings": 500,
}
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def batch_tables():
    """The batch tables as {name: pyarrow.Table}, in their canonical order."""
    r = np.random.default_rng(CONTENT_SEED)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)]})
    no = n["orders"]
    day0 = 9131 * DAY_US  # 1995-01-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": r.integers(0, nc, no).astype("int64"),
        "o_orderstatus": [("P", "O", "F")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(day0 + r.integers(0, 2400, no) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)]})
    nl = n["lineitem"]
    okey = r.integers(0, no, nl).astype("int64")
    qty = r.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, npart, nl).astype("int64"),
        "l_suppkey": r.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": _ts(day0 + DAY_US + r.integers(0, 2500, nl) * DAY_US)})
    ne = n["events"]
    ev_ts = 19723 * DAY_US + np.sort(r.integers(0, 30 * DAY_US, ne))  # 2024-01-01
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": r.integers(0, nc // 10, ne).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and r.random() < 0.05:  # near-duplicate of an earlier page
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), r.integers(10, 101))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    nv = n["embeddings"]
    v = r.normal(size=(nv, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return t


def write_batch(out_dir, seed):
    """Write every batch table to `<out_dir>/<name>.parquet`, rows permuted by `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    perm = np.random.default_rng(seed)
    for name, table in batch_tables().items():
        order = perm.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))


# ---- stream inputs ---------------------------------------------------------

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_box(h):
    """(lat_lo, lat_hi, lng_lo, lng_hi) of a geohash cell."""
    lat, lng, even = [-90.0, 90.0], [-180.0, 180.0], True
    for ch in h:
        bits = B32.index(ch)
        for b in (16, 8, 4, 2, 1):
            rng = lng if even else lat
            mid = (rng[0] + rng[1]) / 2
            if bits & b:
                rng[0] = mid
            else:
                rng[1] = mid
            even = not even
    return lat[0], lat[1], lng[0], lng[1]


N_CELLS = 2000
N_DATES = 30
OUT_OF_ORDER = 0.05
MALFORMED = 0.01
ZIPF_S = 1.1
HOTEL_BURST_MS = 3000
HOTEL_PHASE_MS = 1700


def stream_records(seed, weather_per_s, hotels_per_s, seconds, lead_s, prime_weather,
                   prime_hotels):
    """Stream inputs as a list of (kind, due_ms, json_line), due_ms relative to
    the start of the measured window.

    kind is "w" (weather) or "h" (hotel); "W" and "H" mark the priming set,
    pushed through during set-up. The schedule runs over [-lead_s, seconds):
    the lead warms the system up under the same load and is not measured.
    Weather readings are evenly spaced; hotel feeds post a burst every
    HOTEL_BURST_MS, at HOTEL_PHASE_MS into each period, so each burst is one
    AvailableNow run. Weather dates advance with send time across N_DATES
    days; OUT_OF_ORDER of the readings carry an earlier date, and MALFORMED
    of the lines are broken JSON.
    """
    r = np.random.default_rng(seed)
    cells = []
    seen = set()
    while len(cells) < N_CELLS:
        h = "".join(B32[i] for i in r.integers(0, 32, 4))
        if h not in seen:
            seen.add(h)
            cells.append(h)
    pop = 1.0 / np.arange(1, N_CELLS + 1) ** ZIPF_S
    pop /= pop.sum()
    boxes = np.array([geohash_box(h) for h in cells])

    lead_ms, total_ms = lead_s * 1000, (lead_s + seconds) * 1000
    nw = int(weather_per_s * (lead_s + seconds))
    w_due = np.concatenate([np.full(prime_weather, -np.inf),
                            np.arange(nw) * total_ms / nw - lead_ms])
    bursts = np.arange(-lead_ms // HOTEL_BURST_MS, seconds * 1000 // HOTEL_BURST_MS) \
        * HOTEL_BURST_MS + HOTEL_PHASE_MS
    per_burst = int(hotels_per_s * HOTEL_BURST_MS / 1000)
    h_due = np.concatenate([np.full(prime_hotels, -np.inf),
                            np.repeat(bursts[bursts < seconds * 1000], per_burst)])

    n = len(w_due)
    c = r.choice(N_CELLS, n, p=pop)
    b = boxes[c]
    lat = np.round((b[:, 0] + b[:, 1]) / 2 + (b[:, 1] - b[:, 0]) * r.uniform(-0.3, 0.3, n), 4)
    lng = np.round((b[:, 2] + b[:, 3]) / 2 + (b[:, 3] - b[:, 2]) * r.uniform(-0.3, 0.3, n), 4)
    day = np.minimum(N_DATES - 1, np.maximum(w_due + lead_ms, 0) * N_DATES // total_ms).astype(int)
    late = (day > 0) & (r.random(n) < OUT_OF_ORDER)
    day = np.where(late, (r.random(n) * day).astype(int), day)
    f = np.round(r.normal(70.0, 15.0, n), 1)
    broken = r.random(n) < MALFORMED
    cut = r.random(n)
    weather = []
    for i in range(n):
        line = json.dumps({"avg_tmpr_c": round((f[i] - 32) * 5 / 9, 1), "avg_tmpr_f": f[i],
                           "lat": lat[i], "lng": lng[i],
                           "wthr_date": f"2017-08-{day[i] + 1:02d}"})
        if broken[i]:
            line = line[: 1 + int(cut[i] * (len(line) - 2))]
        weather.append(("W" if w_due[i] == -np.inf else "w", w_due[i], line))

    hc = r.choice(N_CELLS, len(h_due), p=pop)
    hotels = []
    for i, (cell, due) in enumerate(zip(hc, h_due)):
        la0, la1, lo0, lo1 = boxes[cell]
        hotels.append(("H" if due == -np.inf else "h", due, json.dumps({
            "Address": f"{i} Benchmark Road", "City": f"City{cell % 97}",
            "Country": ("GB", "FR", "US", "IT", "ES")[cell % 5],
            "Hash": cells[cell], "Id": str(1_000_000 + i),
            "Latitude": str(round((la0 + la1) / 2, 6)),
            "Longitude": str(round((lo0 + lo1) / 2, 6)),
            "Name": f"Hotel {i}"})))
    return sorted(weather + hotels, key=lambda rec: rec[1])


def write_stream(path, seed, **params):
    with open(path, "w") as f:
        for kind, due, line in stream_records(seed, **params):
            f.write(f"{kind}\t{max(due, -1e9):.3f}\t{line}\n")
