"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:
the IoT device events for the ``edge`` and ``stream`` workloads and the
parquet tables the ``catalog`` workload reads.  The same seed gives the
same inputs; the program sees only the generated rows or files.

The input properties below are the ones the engine's behaviour depends
on; ``perfbench/README.md`` gives the reason for each value.
"""

from __future__ import annotations

import json
import os

import numpy as np

# --- IoT event properties (edge + stream) ----------------------------------
DEVICES = 100            # distinct device_id keys
ZIPF_S = 1.1             # key skew: P(device k) ~ 1 / (k + 1) ** ZIPF_S
OOO_FRAC = 0.05          # share of events displaced back in event time ...
OOO_MAX_MS = 800         # ... by at most this much (inside the 1 s
                         # MAXOUTOFORDERNESS of the event-time statements)
LATE_FRAC = 0.01         # share of events displaced back by ...
LATE_MS = (60_000, 120_000)  # ... this much (far beyond the watermark)
STATUS_CHANGE = 0.1      # per-event chance a device switches status
EVENT_SPACING_MS = 1     # event-time step per event (1k events/s)
T0_MS = 1_700_000_000_000  # event time of seq 0
STATUSES = ("ok", "idle", "error")

EVENT_SCHEMA = ("device_id string, seq bigint, ts bigint, temp double, "
                "humidity double, status string, created_us bigint")


def iot_events(seed: int, n: int, start_seq: int = 0) -> list[dict]:
    """``n`` device events with arrival sequence ``seq`` and event time
    ``ts`` (epoch ms).  ``seq`` is strictly increasing; ``ts`` follows it
    except for the out-of-order and late shares."""
    rng = np.random.Generator(np.random.PCG64([seed, start_seq]))
    w = 1.0 / np.arange(1, DEVICES + 1) ** ZIPF_S
    dev = rng.choice(DEVICES, size=n, p=w / w.sum())
    seq = start_seq + np.arange(n)
    shift = np.zeros(n, dtype=np.int64)
    u = rng.random(n)
    ooo = u < OOO_FRAC
    late = (u >= OOO_FRAC) & (u < OOO_FRAC + LATE_FRAC)
    shift[ooo] = rng.integers(1, OOO_MAX_MS + 1, size=int(ooo.sum()))
    shift[late] = rng.integers(*LATE_MS, size=int(late.sum()))
    ts = T0_MS + seq * EVENT_SPACING_MS - shift
    temp = np.round(rng.normal(50.0, 20.0, size=n), 2)
    hum = np.round(rng.uniform(20.0, 90.0, size=n), 1)
    switch = rng.random(n) < STATUS_CHANGE
    pick = rng.integers(0, len(STATUSES), size=n)
    state = [0] * DEVICES
    out = []
    for i in range(n):
        d = int(dev[i])
        if switch[i]:
            state[d] = int(pick[i])
        out.append({"device_id": f"dev-{d:03d}", "seq": int(seq[i]),
                    "ts": int(ts[i]), "temp": float(temp[i]),
                    "humidity": float(hum[i]),
                    "status": STATUSES[state[d]]})
    return out


def device_table(seed: int) -> list[dict]:
    """Dimension rows for the enrichment JOIN: 80 of the 100 devices, so
    an inner join drops some events."""
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    keep = np.sort(rng.choice(DEVICES, size=80, replace=False))
    return [{"device_id": f"dev-{int(k):03d}", "site": f"site-{int(k) % 7}",
             "model": f"TX-{100 + int(k) % 5 * 100}",
             "threshold": float(60 + int(k) % 30)} for k in keep]


def write_event_file(path: str, rows: list[dict], created_us: int) -> None:
    """Write one JSON-lines event file atomically: the file source lists
    the directory while the writer runs, and ignores dot-files, so the
    file appears complete or not at all."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps({**r, "created_us": created_us}) + "\n")
    os.rename(tmp, path)


# --- catalog tables ---------------------------------------------------------
# Row counts of the TPC-H-like star schema plus the events/documents/
# embeddings tables, the shapes and value domains the catalog entries and
# their DuckDB oracles are written against.
TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000,
              "documents": 500, "embeddings": 500}
_WORDS = ("a the agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table value vector window").split()
_LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14),
          ("fr", 0.13))


def _ns(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "ns")
    return base + (rng.integers(0, days, size=n) * 86_400
                   ).astype("timedelta64[s]").astype("timedelta64[ns]")


def make_tables(seed: int, out_dir: str) -> None:
    """Write the catalog's ten parquet tables into ``out_dir``.
    Timestamps are stored as TIMESTAMP(NANOS), the layout
    ``session.load_tables`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64([seed, 11]))
    r = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    n = r["customer"]
    put("customer", {
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = r["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n), 2)})
    n = r["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", {
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + np.arange(n) * 0.1 % 100, 1)})
    n = r["orders"]
    put("orders", {
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array(_ns(rng, n, "1995-01-01", 2400),
                                pa.timestamp("ns")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_ns(rng, n, "1995-01-02", 2500),
                               pa.timestamp("ns"))})
    n = r["events"]
    gaps = rng.exponential(259_000_000_000, n).astype(np.int64)  # ns, ~4.3 min
    put("events", {
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "ns") + np.cumsum(gaps),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})
    n = r["documents"]
    texts = []
    for k in range(n):
        if k >= 20 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 80)))))
    langs, probs = zip(*_LANGS)
    put("documents", {
        "doc_id": pa.array(range(n), i64), "text": texts,
        "lang": rng.choice(langs, n, p=probs),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n = r["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.15 + rng.normal(0, 1, (n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
