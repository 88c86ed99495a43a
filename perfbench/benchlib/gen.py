"""Seeded input files for the cli_files workload.

The same (seed, GEN_VERSION) always yields byte-identical files. They
are cached under <cache>/<GEN_VERSION>-<seed>/; only the newest few seeds
are kept, because the lineitem CSV alone is ~40 MB.
"""
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

GEN_VERSION = "g2"
KEEP_SEEDS = 3
LINEITEM_ROWS = 600_000
CUSTOMERS = 10_000
ORDERS = 20_000
EVENTS = 20_000
LOG_LINES = 15_000

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI_ARABIA", "VIETNAM",
           "RUSSIA", "UNITED_KINGDOM", "UNITED_STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["shipped", "pending", "returned"]
KINDS = ["click", "view", "purchase", "search"]
LEVELS = ["INFO", "INFO", "INFO", "WARN", "ERROR"]
COMPONENTS = ["api", "db", "cache", "auth", "queue"]


def _csv(path, header, columns):
    """Writes equal-length columns as an unquoted, headed CSV (no value
    here holds a comma, quote or newline)."""
    with open(path, "wb") as fh:
        fh.write((",".join(header) + "\n").encode())
        pcsv.write_csv(pa.table(dict(zip(header, columns))), fh,
                       pcsv.WriteOptions(include_header=False, quoting_style="none"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    n = LINEITEM_ROWS
    _csv(os.path.join(out_dir, "lineitem.csv"),
         ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus"],
         [np.sort(rng.integers(1, n // 4, n)), rng.integers(1, 20_000, n),
          rng.integers(1, 1_000, n), rng.integers(1, 8, n), rng.integers(1, 51, n),
          _money(rng, n, 900, 105_000), rng.integers(0, 11, n) / 100,
          rng.integers(0, 9, n) / 100,
          rng.choice(np.array(["A", "N", "R"]), n), rng.choice(np.array(["O", "F"]), n)])

    c = CUSTOMERS
    _csv(os.path.join(out_dir, "customers.csv"),
         ["id", "name", "nation", "segment", "balance"],
         [np.arange(1, c + 1), np.char.mod("cust_%05d", np.arange(1, c + 1)),
          rng.choice(np.array(NATIONS), c), rng.choice(np.array(SEGMENTS), c),
          _money(rng, c, -999, 9_999)])

    o = ORDERS
    cust = rng.integers(1, c + 1, o)
    amount = _money(rng, o, 1, 500)
    status = rng.choice(np.array(STATUSES), o)
    with open(os.path.join(out_dir, "orders.json"), "w") as fh:
        for i in range(o):
            fh.write(json.dumps({"order_id": i + 1, "customer_id": int(cust[i]),
                                 "amount": float(amount[i]), "status": str(status[i])}) + "\n")

    e = EVENTS
    base = np.datetime64("2024-03-01T00:00:00", "us")
    ts = base + np.sort(rng.integers(0, 48 * 3600 * 10**6, e)).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(1, 500, e), pa.int64()),
        "kind": pa.array(rng.choice(np.array(KINDS), e).tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 100, e), 3), pa.float64()),
    }), os.path.join(out_dir, "events.parquet"))

    k = LOG_LINES
    lv = rng.choice(np.array(LEVELS), k)
    comp = rng.choice(np.array(COMPONENTS), k)
    req = rng.integers(1, 10**6, k)
    ms = rng.integers(1, 5_000, k)
    with open(os.path.join(out_dir, "app.log"), "w") as fh:
        for i in range(k):
            fh.write(f"{lv[i]} {comp[i]} request {req[i]} took {ms[i]}ms\n")


def describe(out_dir):
    """File sizes and schemas, for the run record."""
    files = {}
    for name in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, name)
        if name.startswith(".") or not os.path.isfile(p):
            continue
        info = {"bytes": os.path.getsize(p)}
        if name.endswith(".parquet"):
            info["schema"] = {f.name: str(f.type) for f in pq.read_schema(p)}
            info["rows"] = pq.read_metadata(p).num_rows
        else:
            with open(p) as fh:
                first = fh.readline().rstrip("\n")
                rows = 1 + sum(1 for _ in fh)
            if name.endswith(".csv"):
                info["schema"] = first.split(",")
                rows -= 1
            elif name.endswith(".json"):
                info["schema"] = list(json.loads(first))
            else:
                info["schema"] = ["number", "text"]
            info["rows"] = rows
        files[name] = info
    return files


def ensure_inputs(cache_dir, seed):
    """Returns (dir, seconds spent generating, 0 when cached)."""
    out = os.path.join(cache_dir, f"{GEN_VERSION}-{seed}")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        os.utime(done)
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    generate(out, seed)
    open(done, "w").close()
    elapsed = time.perf_counter() - t0
    old = sorted((d for d in os.listdir(cache_dir) if os.path.exists(os.path.join(cache_dir, d, ".done"))),
                 key=lambda d: os.path.getmtime(os.path.join(cache_dir, d, ".done")))
    for d in old[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(cache_dir, d), ignore_errors=True)
    return out, elapsed
