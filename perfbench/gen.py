"""Seeded input generator for the benchmark workloads.

Every input the engine sees is written here from the seed, and so is the
model of what the engine should make of it: per-file outcomes and counters,
and content checksums of every target. The model is computed from the
generated rows alone, never from the engine, so the checker is independent.

The source definitions the files are written for live in
`src/main/scala/perfbench/Sources.scala`; keep both in step.
"""
import csv
import gzip
import json
import os
import zlib
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes keep one run under a minute on a 4-core host, so a full series of
# runs fits its time window; README.md ("Sizes, and what was cut") explains.
PAPER_ROWS = 40_000
PAPER_INVALID = 0.001
UPSERT_BASE_ROWS = 20_000
UPSERT_DELTA_ROWS = 3_000
QUERY_SF = 0.001

FIRST = ["Ada", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun",
         "Kai", "Lea", "Max", "Nia", "Oto", "Pia", "Quin", "Rex", "Sia", "Tom"]
LAST = ["Ito", "Khan", "Lund", "Mora", "Nagy", "Okafor", "Park", "Quist", "Rossi",
        "Silva", "Tanaka", "Ueda", "Vega", "Weber", "Xu", "Yilmaz", "Zima"]
SEGMENTS = ["retail", "smb", "enterprise", "partner"]
CUSTOMER_COLS = ["customer_id", "first_name", "last_name", "email", "phone",
                 "signup_date", "balance", "segment"]


def crc_row(fields):
    return zlib.crc32("|".join(fields).encode("utf-8"))


class Customers:
    """Customer rows as the file carries them, plus the cleaned rendering
    the published target must hold (trimmed, lower-cased email; digits-only
    phone; two-decimal balance)."""

    def __init__(self, rng):
        self.rng = rng

    def make(self, ids, invalid_share):
        rng = self.rng
        n = len(ids)
        ids = [int(i) for i in ids]
        first = [FIRST[i] for i in rng.integers(0, len(FIRST), n)]
        last = [LAST[i] for i in rng.integers(0, len(LAST), n)]
        style = rng.integers(0, 4, n).tolist()
        area = rng.integers(200, 999, n).tolist()
        mid = rng.integers(100, 999, n).tolist()
        tail = rng.integers(0, 9999, n).tolist()
        epoch = date(2015, 1, 1).toordinal()
        signup = [date.fromordinal(epoch + d).isoformat()
                  for d in rng.integers(0, 3650, n).tolist()]
        balance = (rng.integers(0, 1_000_000, n) / 100.0).tolist()
        segment = [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)]
        bad = (rng.random(n) < invalid_share).tolist()
        bad_kind = rng.integers(0, 4, n).tolist()
        rows = []
        for i in range(n):
            cid, fn, ln, st = ids[i], first[i], last[i], style[i]
            if st == 1:
                email = f"  {fn.upper()}.{ln.upper()}{cid}@EXAMPLE.COM "
            elif st == 2:
                email = f"{fn}.{ln}{cid}@Example.Org"
            else:
                email = f"{fn}.{ln}{cid}@example.com"
            if st < 2:
                phone = f"({area[i]}) {mid[i]}-{tail[i]:04d}"
            else:
                phone = f"+1 {area[i]}.{mid[i]}.{tail[i]:04d}"
            r = dict(customer_id=cid, first_name=fn, last_name=ln, email=email,
                     phone=phone, signup_date=signup[i], balance=balance[i],
                     segment=segment[i], valid=not bad[i])
            if bad[i]:
                k = bad_kind[i]
                if k == 0:
                    r["email"] = f"{fn}.{ln}{cid}-at-example.com"
                elif k == 1:
                    r["first_name"] = fn * 20
                elif k == 2:
                    r["signup_date"] = signup[i][:5] + "13-45"
                else:
                    r["balance"] = -balance[i] - 1.0
            rows.append(r)
        return rows

    @staticmethod
    def rendered(r):
        return (str(r["customer_id"]), r["first_name"], r["last_name"],
                r["email"].strip(" ").lower(),
                "".join(c for c in r["phone"] if c.isdigit()),
                r["signup_date"], f"{r['balance']:.2f}", r["segment"])


def checksum(rendered_rows):
    rows = list(rendered_rows)
    return {"rows": len(rows), "key_sum": sum(int(r[0]) for r in rows),
            "crc_sum": sum(crc_row(r) for r in rows)}


def write_customers_parquet(path, rows):
    cols = {c: [r[c] for r in rows] for c in CUSTOMER_COLS}
    t = pa.table({
        "customer_id": pa.array(cols["customer_id"], pa.int64()),
        "first_name": pa.array(cols["first_name"], pa.string()),
        "last_name": pa.array(cols["last_name"], pa.string()),
        "email": pa.array(cols["email"], pa.string()),
        "phone": pa.array(cols["phone"], pa.string()),
        "signup_date": pa.array(cols["signup_date"], pa.string()),
        "balance": pa.array(cols["balance"], pa.float64()),
        "segment": pa.array(cols["segment"], pa.string()),
    })
    pq.write_table(t, path)


def write_customers_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CUSTOMER_COLS)
        for r in rows:
            w.writerow([r["customer_id"], r["first_name"], r["last_name"], r["email"],
                        r["phone"], r["signup_date"], f"{r['balance']:.2f}", r["segment"]])


def file_outcome(name, read=0, failed=0, inserts=0, updates=0, error=None, success=True):
    return {"name": name, "success": success, "error": error, "read": read,
            "failed": failed, "inserts": inserts, "updates": updates}


def paper_file(rng, out):
    """The paper's workload: one customer parquet file with ~0.1% invalid
    rows (below its 1% threshold) for an empty target."""
    rows = Customers(rng).make(np.arange(1, PAPER_ROWS + 1) * 3 + 1_000_000, PAPER_INVALID)
    name = "customers_000001.parquet"
    write_customers_parquet(os.path.join(out, name), rows)
    valid = [r for r in rows if r["valid"]]
    n_bad = len(rows) - len(valid)
    outcome = file_outcome(name, read=len(rows), failed=n_bad, inserts=len(valid))
    return name, outcome, checksum(Customers.rendered(r) for r in valid), n_bad


def upsert_files(rng, out):
    """A CSV base for the bucketed target and one delta: ~60% updates (a
    sixth of them hash-identical re-sends), ~40% new keys, 1% invalid."""
    cust = Customers(rng)
    base = cust.make(np.arange(1, UPSERT_BASE_ROWS + 1) * 2, 0.0)
    write_customers_csv(os.path.join(out, "crm_base.csv"), base)
    state = {r["customer_id"]: r for r in base}
    n = UPSERT_DELTA_ROWS
    n_same, n_upd, n_bad = n // 10, n // 2, n // 100
    n_new = n - n_same - n_upd - n_bad
    keys = rng.choice(np.fromiter(state.keys(), np.int64), n_same + n_upd, replace=False)
    same = [dict(state[int(k)]) for k in keys[:n_same]]
    upd = []
    for k in keys[n_same:]:
        r = dict(state[int(k)])
        r["balance"] = round(r["balance"] + 1.0 + float(rng.integers(0, 5000)) / 100.0, 2)
        r["phone"] = f"({int(rng.integers(200, 999))}) 555-{int(rng.integers(0, 9999)):04d}"
        upd.append(r)
    new_ids = np.arange(UPSERT_BASE_ROWS * 2 + 2, UPSERT_BASE_ROWS * 2 + 2 + n_new + n_bad)
    new = cust.make(new_ids[:n_new], 0.0)
    bad = cust.make(new_ids[n_new:], 1.0)
    rows = same + upd + new + bad
    rows = [rows[i] for i in rng.permutation(len(rows))]
    name = "crm_delta_000001.csv"
    write_customers_csv(os.path.join(out, name), rows)
    for r in upd + new:
        state[r["customer_id"]] = r
    outcome = file_outcome(name, read=len(rows), failed=n_bad, inserts=n_new, updates=n_upd)
    target = checksum(Customers.rendered(r) for r in state.values())
    return "crm_base.csv", name, outcome, target, n_bad


# ---- ingest_sweep ----------------------------------------------------------

def _orders_rows(rng, ids, bad_share):
    rows = []
    for cid in ids:
        qty = int(rng.integers(1, 20))
        day = (date(2024, 1, 1) + timedelta(days=int(rng.integers(0, 365)))).isoformat()
        bad = rng.random() < bad_share
        if bad:
            qty = 0
        rows.append((dict(order_id=int(cid), customer_id=int(rng.integers(1, 5000)),
                          sku=f"SKU{int(rng.integers(0, 99999)):05d}", quantity=qty,
                          unit_price=int(rng.integers(100, 99999)) / 100.0,
                          order_date=day), not bad))
    return rows


def _ledger_rows(rng, ids, bad_share):
    rows = []
    for eid in ids:
        bad = rng.random() < bad_share
        code = f"AC{int(rng.integers(0, 9999)):04d}" + ("-OVERFLOWING" if bad else "")
        rows.append((dict(entry_id=int(eid), account_code=code,
                          debit_amount=int(rng.integers(0, 100000)) / 100.0,
                          credit_amount=int(rng.integers(0, 100000)) / 100.0,
                          entry_date=(date(2024, 1, 1) + timedelta(
                              days=int(rng.integers(0, 365)))).isoformat()), not bad))
    return rows


def _events_rows(rng, ids, bad_share):
    rows = []
    types = ["click", "view", "purchase", "signup"]
    for eid in ids:
        bad = rng.random() < bad_share
        et = types[int(rng.integers(0, 4))] + ("_with_a_far_too_long_name" if bad else "")
        rows.append((dict(event_id=int(eid), user_id=int(rng.integers(1, 10000)),
                          event_type=et, value=int(rng.integers(0, 50000)) / 100.0,
                          ts=datetime(2024, 1, 1) + timedelta(
                              seconds=int(rng.integers(0, 86400 * 30)))), not bad))
    return rows


def _write_small(kind, path, rows):
    recs = [r for r, _ in rows]
    if kind == "orders":
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "wt", newline="") as f:
            w = csv.writer(f)
            cols = ["order_id", "customer_id", "sku", "quantity", "unit_price", "order_date"]
            w.writerow(cols)
            for r in recs:
                w.writerow([r[c] for c in cols])
    elif kind == "ledger":
        with open(path, "w") as f:
            json.dump({"entries": {"item": recs}}, f)
    else:
        pq.write_table(pa.table({
            "event_id": pa.array([r["event_id"] for r in recs], pa.int64()),
            "user_id": pa.array([r["user_id"] for r in recs], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in recs], pa.string()),
            "value": pa.array([r["value"] for r in recs], pa.float64()),
            "ts": pa.array([r["ts"] for r in recs], pa.timestamp("us")),
        }), path)


SMALL_KINDS = {
    "orders": (_orders_rows, "shop_orders", "order_id"),
    "ledger": (_ledger_rows, "ledger_entries", "entry_id"),
    "events": (_events_rows, "web_events", "event_id"),
}


def gen_ingest(rng, out):
    next_key = {k: 1 + i * 10_000_000 for i, k in enumerate(SMALL_KINDS)}
    keys = {k: 0 for k in SMALL_KINDS}
    key_sums = {k: 0 for k in SMALL_KINDS}
    dlq = {}

    def make(kind, name, n, bad_share, outcome):
        rows_fn = SMALL_KINDS[kind][0]
        ids = range(next_key[kind], next_key[kind] + n)
        next_key[kind] += n
        rows = rows_fn(rng, ids, bad_share)
        _write_small(kind, os.path.join(out, name), rows)
        valid = [r for r, ok in rows if ok]
        n_bad = len(rows) - len(valid)
        if outcome == "ok":
            keys[kind] += len(valid)
            key_sums[kind] += sum(r[SMALL_KINDS[kind][2]] for r in valid)
            res = file_outcome(name, read=len(rows), failed=n_bad, inserts=len(valid))
        else:
            res = file_outcome(name, error="ValidationThresholdExceededError", success=False)
        dlq[name] = n_bad
        return res

    def size():
        return int(rng.integers(200, 2001))

    paper, paper_outcome, paper_target, paper_bad = paper_file(rng, out)
    base, delta, delta_outcome, target, delta_bad = upsert_files(rng, out)
    # set-up pre-load: the merge target's base, an orders file whose name is
    # re-sent later, and a gzipped orders file over its threshold
    preload = [base, "orders_0001.csv"]
    make("orders", "orders_0001.csv", size(), 0.0, "ok")
    failing = "orders_0002.csv.gz"
    make("orders", failing, size(), 0.5, "threshold")
    preload.append(failing)

    sweep = [paper, delta]
    expected = {paper: paper_outcome, delta: delta_outcome}
    # re-sent names of pre-loaded files: DuplicateFileError, nothing changes
    for name in (base, "orders_0001.csv"):
        sweep.append(name + "#resend")
        expected[name + "#resend"] = file_outcome(name, error="DuplicateFileError")
    # corrected re-send of the file that failed in set-up: publishes, and
    # DLQ cleanup drops the set-up run's rows for that name
    fixed = "orders_0002_fixed"
    fixed_src = "orders_0002.fixed.csv.gz"
    expected[fixed] = make("orders", fixed_src, size(), 0.0, "ok")
    expected[fixed]["name"] = failing
    sweep.append(fixed)
    # a new small parquet file
    expected["events_0001.parquet"] = make("events", "events_0001.parquet", size(), 0.01, "ok")
    sweep.append("events_0001.parquet")
    # one file over its threshold, one file no source claims
    over = "ledger_0099.json"
    expected[over] = make("ledger", over, size(), 0.5, "threshold")
    sweep.append(over)
    with open(os.path.join(out, "notes_0001.csv"), "w") as f:
        f.write("note\nnot claimed by any source\n")
    sweep.append("notes_0001.csv")

    # the checker's DLQ model after a sweep
    final_dlq = {k: v for k, v in dlq.items() if v}
    final_dlq.pop(failing, None)
    final_dlq.pop(fixed_src, None)
    for name, n_bad in ((failing, dlq.get(fixed_src, 0)), (delta, delta_bad),
                        (paper, paper_bad)):
        if n_bad:
            final_dlq[name] = n_bad

    # drop-file names: re-sends reuse the pre-loaded file, the corrected
    # re-send carries the failed file's name
    staged = []
    for s in sweep:
        if s.endswith("#resend"):
            staged.append({"src": "inputs/" + s[:-len("#resend")], "as": s[:-len("#resend")]})
        elif s == fixed:
            staged.append({"src": "inputs/" + fixed_src, "as": failing})
        else:
            staged.append({"src": "inputs/" + s, "as": s})
    plan = {"preload": ["inputs/" + p for p in preload], "sweep": staged, "setup_reps": 2}
    expect = {
        "files": {v["name"]: v for v in expected.values()},
        "no_source": 1,
        "tables": {SMALL_KINDS[k][1]: {"rows": keys[k], "key_sum": key_sums[k]}
                   for k in SMALL_KINDS},
        "dlq": final_dlq,
        "target": {"crm_customers": target, "customers": paper_target},
    }
    return plan, expect


# ---- query_suite -----------------------------------------------------------

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query stream big "
         "filter group vector").split()


def gen_queries(rng, out, sf=QUERY_SF):
    n_cust, n_orders = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_embs = 500

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(names)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n_cust)])})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
    ptypes = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([ptypes[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2))})
    epoch95 = np.datetime64("1995-01-01")
    odays = rng.integers(0, 2404, n_orders)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array([("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array((epoch95 + odays.astype("timedelta64[D]")).astype("datetime64[us]")),
        "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                                     for i in rng.integers(0, 5, n_orders)])})
    lok = rng.integers(0, n_orders, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array((epoch95 + rng.integers(1, 2499, n_line).astype("timedelta64[D]"))
                               .astype("datetime64[us]"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    etypes = ["click", "signup", "error", "view", "purchase"]
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": pa.array([etypes[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_events), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)])})
    langs = ["en"] * 3 + ["zh", "de", "fr", "es"]
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([langs[i] for i in rng.integers(0, len(langs), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_embs)
    centers = rng.normal(0, 0.3, (10, 64))
    embs = (centers[labels] + rng.normal(0, 0.1, (n_embs, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_embs), pa.int64()),
        "embedding": pa.array([list(map(float, e)) for e in embs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"data": "inputs/data", "setup_reps": 2}, {}


GENERATORS = {"ingest_sweep": gen_ingest, "query_suite": gen_queries}


def generate(workload, seed, work):
    """Write the workload's inputs under `work/inputs` and return
    (plan, expectations, input stats)."""
    rng = np.random.default_rng(seed)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    out = inputs
    if workload == "query_suite":
        out = os.path.join(inputs, "data")
        os.makedirs(out, exist_ok=True)
    plan, expect = GENERATORS[workload](rng, out)
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(inputs) for f in fs]
    stats = {"input_files": len(files), "input_bytes": sum(os.path.getsize(f) for f in files),
             "input_rows": sum(_rows(f) for f in files)}
    return plan, expect, stats


def _rows(path):
    """Data rows in a generated file."""
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    if path.endswith(".json"):
        with open(path) as f:
            return len(json.load(f)["entries"]["item"])
    with (gzip.open(path, "rt") if path.endswith(".gz") else open(path)) as f:
        return sum(1 for _ in f) - 1
