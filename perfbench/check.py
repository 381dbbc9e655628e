"""Correctness checks for a benchmark run.

Everything here reads the engine's outputs from disk (or from the harness's
per-operation record) and compares them with the generator's model or with
DuckDB, never with the engine itself:

- per-file outcomes and counters against the generator's model;
- content checksums of each published target, recomputed from its parquet
  files by resolving the warehouse's version pointer and bucket manifest;
- every query's rows against its DuckDB oracle, compared the same way as
  `tools/compare.py` (columns sorted by name, rows sorted, values as text).

`self_check` perturbs one file counter, one target row and one query row
and confirms the comparisons flag them, so a vacuous checker fails the run.
"""
import glob
import os
import zlib

import duckdb

CUSTOMER_COLS = ["customer_id", "first_name", "last_name", "email", "phone",
                 "signup_date", "balance", "segment"]


def table_files(wh, table):
    """Live parquet files of a warehouse table: the version named by
    `_VERSION` (through its `_MANIFEST` when bucketed) plus the append
    segments the pointer has not retired."""
    tdir = os.path.join(wh, table)
    if not os.path.isdir(tdir):
        return []
    dirs, retired = [], set()
    pointer = os.path.join(tdir, "_VERSION")
    if os.path.exists(pointer):
        lines = [l.strip() for l in open(pointer).read().split("\n") if l.strip()]
        ver, retired = lines[0], set(lines[1:])
        manifest = os.path.join(tdir, ver, "_MANIFEST")
        if os.path.exists(manifest):
            for l in [l for l in open(manifest).read().split("\n") if l.strip()][1:]:
                b, owner = l.split("\t")
                dirs.append(os.path.join(tdir, owner, f"_bucket={b}"))
        else:
            dirs.append(os.path.join(tdir, ver))
    for d in sorted(os.listdir(tdir)):
        if d.startswith("seg_") and d not in retired:
            dirs.append(os.path.join(tdir, d))
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                                                     recursive=True))


def read_table(wh, table, cols):
    files = table_files(wh, table)
    if not files:
        return []
    con = duckdb.connect()
    return con.sql(f"SELECT {', '.join(cols)} FROM read_parquet({files!r}, union_by_name=true)"
                   ).fetchall()


def render_customer(row):
    cid, fn, ln, email, phone, signup, balance, segment = row
    return (str(cid), fn or "", ln or "", email or "", phone or "",
            signup.isoformat() if signup is not None else "",
            f"{balance:.2f}" if balance is not None else "", segment or "")


def checksum(rendered):
    rendered = list(rendered)
    return {"rows": len(rendered), "key_sum": sum(int(r[0]) for r in rendered),
            "crc_sum": sum(zlib.crc32("|".join(r).encode("utf-8")) for r in rendered)}


def customer_checksum(wh, table):
    rows = [render_customer(r) for r in read_table(wh, table, CUSTOMER_COLS)]
    return checksum(rows), rows


FILE_KEYS = ("success", "error", "read", "failed", "inserts", "updates")


def file_matches(op, want):
    return all(op.get(k) == want.get(k) for k in FILE_KEYS)


def compare_frames(spark_df, oracle_df):
    """`tools/compare.py`'s rule: same column names, and the same rows as
    text after sorting columns by name and rows by value. Returns an error
    string or None."""
    a = spark_df[sorted(spark_df.columns)]
    b = oracle_df[sorted(oracle_df.columns)]
    if list(a.columns) != list(b.columns):
        return f"column mismatch {list(a.columns)} vs {list(b.columns)}"
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    astr, bstr = a.astype(str).values.tolist(), b.astype(str).values.tolist()
    for i, (ra, rb) in enumerate(zip(astr, bstr)):
        if ra != rb:
            return f"row {i} differs: {ra} vs {rb}"
    return None


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def op(self, ok, note):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)

    def must(self, ok, note):
        """A whole-run check: not an operation, but a mismatch fails the run."""
        if not ok:
            self.notes.append(note)
            self.failed += 1


def check_sweep(expect, jvm, res):
    want = expect["files"]
    target = expect["target"]["crm_customers"]
    rounds = {}
    for op in jvm["ops"]:
        rounds.setdefault(op["round"], []).append(op)
        if op["kind"] == "target_read":
            res.op(op["checksum"] == target,
                   f"target read round {op['round']}: {op['checksum']} vs {target}")
        elif not op.get("no_source"):
            w = want.get(op.get("name"))
            res.op(w is not None and file_matches(op, w), f"file {op}")
    for k, ops in rounds.items():
        files = [o for o in ops if o["kind"] == "file"]
        n = sum(1 for o in files if o.get("no_source"))
        res.op(n == expect["no_source"], f"round {k}: {n} files matched no source")
        res.must(len(files) == len(want) + expect["no_source"], f"round {k}: {len(files)} files")
    wh = jvm["final"]["warehouse"]
    got, _ = customer_checksum(wh, "customers")
    want = expect["target"]["customers"]
    res.must(got == want, f"final customers target {got} vs {want}")
    got, rows = customer_checksum(wh, "crm_customers")
    res.must(got == target, f"final merge target {got} vs {target}")
    keys = {"shop_orders": "order_id", "ledger_entries": "entry_id", "web_events": "event_id"}
    for table, w in expect["tables"].items():
        trows = read_table(wh, table, [keys[table]])
        t = {"rows": len(trows), "key_sum": sum(r[0] for r in trows)}
        res.must(t == w, f"table {table}: {t} vs {w}")
    dlq = {}
    for (name,) in read_table(wh, "file_load_dlq", ["source_filename"]):
        dlq[name] = dlq.get(name, 0) + 1
    res.must(dlq == expect["dlq"], f"dlq {dlq} vs {expect['dlq']}")
    return rows, target, None


def check_queries(expect, jvm, res):
    final = jvm["final"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(final["data"], "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    first = {}
    sample = None
    for op in sorted(jvm["ops"], key=lambda o: o["round"]):
        q = op["name"]
        if q not in first:
            first[q] = op
            qdir = os.path.join(final["qout"], q)
            spark_df = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
            if q in final["oracle"]:
                try:
                    err = compare_frames(spark_df, con.sql(final["oracle"][q]).df())
                except Exception as e:  # an oracle that cannot run is a failure
                    err = f"oracle error {e}"
                if err is None and sample is None and len(spark_df):
                    sample = (spark_df, con.sql(final["oracle"][q]).df())
            else:
                err = None if len(spark_df) else "rows-only query returned no rows"
            res.op(err is None, f"query {q}: {err}")
        else:
            res.op(op["digest"] == first[q]["digest"] and op["rows"] == first[q]["rows"],
                   f"query {q} round {op['round']}: rows differ from the first pass")
    return None, None, sample


def self_check(jvm, target_rows, target_want, query_sample):
    """Perturb one result of each kind the run checked and confirm the
    comparison flags it. Returns an error string or None."""
    files = [o for o in jvm["ops"] if o["kind"] == "file" and o.get("name")]
    if files:
        bad = dict(files[0], inserts=files[0]["inserts"] + 1)
        if file_matches(bad, files[0]):
            return "file comparison missed a perturbed counter"
    if target_rows:
        bad = list(target_rows)
        r = list(bad[0])
        r[3] = "x" + r[3]
        bad[0] = tuple(r)
        if checksum(bad) == target_want:
            return "target checksum missed a perturbed row"
    if query_sample is not None:
        spark_df, oracle_df = query_sample
        bad = spark_df.copy()
        col = sorted(bad.columns)[0]
        bad[col] = bad[col].astype(object)
        bad.iat[0, bad.columns.get_loc(col)] = "__perturbed__"
        if compare_frames(bad, oracle_df) is None:
            return "query comparison missed a perturbed row"
    elif jvm["workload"] == "query_suite":
        return "no oracle-checked query to perturb"
    return None


CHECKS = {"ingest_sweep": check_sweep, "query_suite": check_queries}


def check(workload, expect, jvm):
    res = Result()
    err = self_check(jvm, *CHECKS[workload](expect, jvm, res))
    if err:
        res.must(False, "self-check: " + err)
    return res
