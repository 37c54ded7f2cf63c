"""Seeded input generator for the four benchmark workloads.

Every input reaches the engine as a file written here. The same
(workload, seed) always yields byte-identical inputs, and each seed's
inputs are written once: a later run with the same seed reuses them.
`SIZES` and `DIRT` are the knobs; `meta.json` in each input directory
records what was generated.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. A benchmark run measures one round (a pass,
# a statement cycle, a query cycle, an ingest batch) after a JVM start
# and the first execution of each plan, which cost 20-35 s together;
# these sizes keep a whole run near 30 s.
SIZES = {
    "migrate": {"countries": 60, "customers": 2400, "orders": 2900,
                "order_lines": 7900},
    "dml_mv": {"fact": 8000, "dim": 200, "acct": 4000, "cycles": 20,
               "insert_rows": 50, "merge_rows": 200},
    "scan_join": {"region": 5, "nation": 25, "customer": 30000,
                  "supplier": 2000, "part": 40000, "orders": 100000,
                  "events": 150000},
    "dedup_ingest": {"docs": 2000, "batches": 40, "words": 400,
                     "vocab": 5000},
}

# CDC batch sizes of the migration pipelines (the reference ETL's
# orders 2000, customers 5000). No table is an exact multiple, so no
# loop ends on an empty batch.
BATCH_SIZES = {"countries": 100, "customers": 5000, "orders": 2000,
               "order_lines": 2000}

# Dirt rates of the V1 source tables (share of rows), at the level the
# reference ETL's Readme describes: NULLs, blank strings, unparseable
# text, VARCHAR dates in two formats, and foreign keys with no parent.
DIRT = {
    "null_name": 0.03, "blank_name": 0.02, "null_email": 0.05,
    "bad_balance": 0.03, "date_fmt_a": 0.45, "date_fmt_b": 0.45,
    "null_date": 0.05, "bad_date": 0.05, "customer_fk_miss": 0.02,
    "country_fk_miss": 0.01, "order_fk_miss": 0.01, "null_status": 0.04,
    "null_tax": 0.03, "null_qty": 0.02,
}

# Share of corpus documents that are planted near-duplicates of an
# earlier document (one word replaced: exact Jaccard well above the
# 0.5 verify threshold, so MinHash banding finds them).
PLANTED_RATE = 0.05

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


# Rows per parquet row group. Spark splits a file's scan by row group,
# so a large table read from one file still uses every core.
ROW_GROUP = 50_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=ROW_GROUP)


def _pick(rng, n, rate):
    return rng.random(n) < rate


def _choose(rng, values, n):
    """n values drawn uniformly from `values`, as a string array."""
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _v1_dates(rng, n):
    """VARCHAR dates: 'MMM d yyyy h:mma' or 'M/d/yyyy h:mm:ss a', with
    NULLs and unparseable text mixed in."""
    y = rng.integers(2015, 2024, n)
    mo = rng.integers(1, 13, n)
    d = rng.integers(1, 29, n)
    h = rng.integers(1, 13, n)
    mi = rng.integers(0, 60, n)
    s = rng.integers(0, 60, n)
    ap = rng.integers(0, 2, n)
    kind = rng.random(n)
    a, b = DIRT["date_fmt_a"], DIRT["date_fmt_a"] + DIRT["date_fmt_b"]
    c = b + DIRT["null_date"]
    out = []
    for i in range(n):
        k = kind[i]
        if k < a:
            out.append(f"{MONTHS[mo[i] - 1]} {d[i]} {y[i]} {h[i]}:{mi[i]:02d}"
                       f"{'AM' if ap[i] else 'PM'}")
        elif k < b:
            out.append(f"{mo[i]}/{d[i]}/{y[i]} {h[i]}:{mi[i]:02d}:{s[i]:02d} "
                       f"{'AM' if ap[i] else 'PM'}")
        elif k < c:
            out.append(None)
        else:
            out.append("n/a")
    return out


def gen_migrate(rng, out):
    z = SIZES["migrate"]
    nco, ncu, nor, nli = (z["countries"], z["customers"], z["orders"],
                          z["order_lines"])
    codes = [f"C{i:03d}" for i in range(nco)]
    names = [f" country {i} " if i % 7 else "" for i in range(nco)]
    _write(pa.table({"id": pa.array(np.arange(1, nco + 1), pa.int64()),
                     "code": codes, "name": names}),
           f"{out}/countries.parquet")

    first = ["ali", "sara", "omar", "lina", "noor", "huda", "zaid", "rami"]
    cname = []
    nul, blank = _pick(rng, ncu, DIRT["null_name"]), _pick(rng, ncu, DIRT["blank_name"])
    for i in range(ncu):
        cname.append(None if nul[i] else "  " if blank[i]
                     else f" {first[i % len(first)]} {i} ")
    phone_kind = rng.integers(0, 3, ncu)
    phone_num = rng.integers(10 ** 8, 10 ** 9, ncu)
    phone = [f"05{p}" if k == 0 else f"9-66-{p}" if k == 1 else f"00 5{p}"
             for k, p in zip(phone_kind, phone_num)]
    null_mail = _pick(rng, ncu, DIRT["null_email"])
    email = [None if null_mail[i] else f" User{i}@Example.COM" for i in range(ncu)]
    cc = rng.integers(0, nco, ncu)
    miss = _pick(rng, ncu, DIRT["country_fk_miss"])
    ccode = ["X99" if miss[i] else codes[cc[i]] for i in range(ncu)]
    bal = rng.integers(0, 10 ** 6, ncu)
    bad_bal = _pick(rng, ncu, DIRT["bad_balance"])
    balance = ["abc" if bad_bal[i] else f"{bal[i] / 100:.2f}" for i in range(ncu)]
    _write(pa.table({"id": pa.array(np.arange(1, ncu + 1), pa.int64()),
                     "name": cname, "phone": phone, "email": email,
                     "country_code": ccode, "created": _v1_dates(rng, ncu),
                     "balance": balance}), f"{out}/customers.parquet")

    cust = rng.integers(1, ncu + 1, nor)
    cmiss = _pick(rng, nor, DIRT["customer_fk_miss"])
    cust = np.where(cmiss, cust + ncu + 1000, cust)
    statuses = ["NEW", "PAID", "SHIPPED", "CANCELLED", " paid "]
    st = rng.integers(0, len(statuses), nor)
    nst = _pick(rng, nor, DIRT["null_status"])
    status = [None if nst[i] else statuses[st[i]] for i in range(nor)]
    sub = rng.integers(100, 10 ** 6, nor) / 100.0
    tax = np.round(sub * 0.15, 2)
    ntax = _pick(rng, nor, DIRT["null_tax"])
    _write(pa.table({
        "id": pa.array(np.arange(1, nor + 1), pa.int64()),
        "customer_id": pa.array(cust, pa.int64()),
        "status": status, "order_date": _v1_dates(rng, nor),
        "subtotal": sub,
        "tax": pa.array(np.where(ntax, np.nan, tax), pa.float64(),
                        mask=ntax),
        "total": np.round(sub + tax, 2)}), f"{out}/orders.parquet")

    oid = rng.integers(1, nor + 1, nli)
    omiss = _pick(rng, nli, DIRT["order_fk_miss"])
    oid = np.where(omiss, oid + nor + 1000, oid)
    qty = rng.integers(1, 20, nli)
    nq = _pick(rng, nli, DIRT["null_qty"])
    _write(pa.table({
        "id": pa.array(np.arange(1, nli + 1), pa.int64()),
        "order_id": pa.array(oid, pa.int64()),
        "product": [f"sku-{p}" for p in rng.integers(0, 500, nli)],
        "qty": pa.array(qty, pa.int64(), mask=nq),
        "price": rng.integers(100, 50000, nli) / 100.0}),
        f"{out}/order_lines.parquet")
    return {"rows": {"countries": nco, "customers": ncu, "orders": nor,
                     "order_lines": nli}, "dirt": DIRT,
            "batch_sizes": BATCH_SIZES,
            "batches_per_pass": sum(-(-z[t] // b) for t, b in BATCH_SIZES.items())}


# statements in one dml_mv cycle (one round): 2 reads, one of them the
# view's own aggregate, and one of each write kind
CYCLE = 8


def gen_dml(rng, out):
    z = SIZES["dml_mv"]
    nf, nd, na = z["fact"], z["dim"], z["acct"]
    _write(pa.table({"id": pa.array(np.arange(nf), pa.int64()),
                     "sk": pa.array(rng.integers(0, nd, nf), pa.int64()),
                     "qty": pa.array(rng.integers(1, 51, nf), pa.int64())}),
           f"{out}/fact.parquet")
    _write(pa.table({"k": pa.array(np.arange(nd), pa.int64()),
                     "nk": pa.array(rng.integers(0, 25, nd), pa.int64())}),
           f"{out}/dim.parquet")
    _write(pa.table({"id": pa.array(np.arange(na), pa.int64()),
                     "bal": pa.array(rng.integers(0, 10000, na), pa.int64())}),
           f"{out}/acct.parquet")
    os.makedirs(f"{out}/src")
    mv_q = ("SELECT d.nk, count(*) AS n, sum(f.qty) AS sq FROM fact f "
            "JOIN dim d ON f.sk = d.k GROUP BY d.nk")
    stmts = []
    next_id = nf
    for c in range(z["cycles"]):
        r = [int(v) for v in rng.integers(0, 7, 3)]
        rows = []
        for _ in range(z["insert_rows"]):
            rows.append([next_id, int(rng.integers(0, nd)),
                         int(rng.integers(1, 51))])
            next_id += 1
        vals = [f"({a}, {b}, {q})" for a, b, q in rows]
        m = z["merge_rows"]
        mids = rng.integers(0, next_id + m // 4, m)
        mids = np.unique(mids)
        msrc = f"src/m{c}.parquet"
        _write(pa.table({"id": pa.array(mids, pa.int64()),
                         "sk": pa.array(rng.integers(0, nd, len(mids)), pa.int64()),
                         "qty": pa.array(rng.integers(1, 51, len(mids)), pa.int64())}),
               f"{out}/{msrc}")
        next_id = max(next_id, int(mids.max()) + 1)
        aids = np.unique(rng.integers(0, na + na // 10, m))
        asrc = f"src/a{c}.parquet"
        _write(pa.table({"id": pa.array(aids, pa.int64()),
                         "bal": pa.array(rng.integers(0, 10000, len(aids)), pa.int64())}),
               f"{out}/{asrc}")
        add = int(rng.integers(1, 9))
        stmts += [
            {"kind": "read", "mv": True, "sql": mv_q},
            {"kind": "insert", "args": {"rows": rows},
             "sql": "INSERT INTO fact VALUES " + ", ".join(vals)},
            {"kind": "update", "args": {"add": add, "mod": 10, "rem": r[0]},
             "sql": f"UPDATE fact SET qty = qty + {add} "
                    f"WHERE id % 10 = {r[0]}"},
            {"kind": "merge", "view": "msrc", "file": msrc,
             "args": {"table": "fact"},
             "sql": "MERGE INTO fact AS t USING msrc AS s ON t.id = s.id "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"},
            {"kind": "delete", "args": {"mod": 50, "rem": r[1]},
             "sql": f"DELETE FROM fact WHERE id % 50 = {r[1]}"},
            {"kind": "refresh", "sql": "REFRESH MATERIALIZED VIEW mv_star"},
            {"kind": "merge", "view": "asrc", "file": asrc,
             "args": {"table": "acct"},
             "sql": "MERGE INTO acct AS t USING asrc AS s ON t.id = s.id "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"},
            {"kind": "read", "sql": "SELECT d.nk, max(f.qty) AS mx FROM fact f "
                                    "JOIN dim d ON f.sk = d.k "
                                    f"WHERE f.id % 7 = {r[2]} GROUP BY d.nk"},
        ]
    with open(f"{out}/statements.json", "w") as f:
        json.dump({"mv_name": "mv_star", "mv_sql": mv_q, "cycle_length": CYCLE,
                   "statements": stmts}, f)
    return {"rows": {"fact": nf, "dim": nd, "acct": na},
            "statements": len(stmts), "cycle_length": CYCLE,
            "mix": {"read": 2, "insert": 1, "update": 1, "delete": 1,
                    "merge_cow": 1, "merge_dv": 1, "refresh": 1}}


def gen_scan(rng, out):
    z = SIZES["scan_join"]
    nc, ns, npt, no, ne = (z["customer"], z["supplier"], z["part"],
                           z["orders"], z["events"])
    i32, i64 = pa.int32(), pa.int64()
    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({"c_custkey": pa.array(np.arange(nc), i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                     "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                     "c_acctbal": rng.integers(-99999, 999999, nc) / 100.0,
                     "c_mktsegment": [segs[v] for v in rng.integers(0, 5, nc)]}),
           f"{out}/customer.parquet")
    _write(pa.table({"s_suppkey": pa.array(np.arange(ns), i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                     "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                     "s_acctbal": rng.integers(-99999, 999999, ns) / 100.0}),
           f"{out}/supplier.parquet")
    adj = ["small", "red", "blue", "green", "large", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "panel"]
    types = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]
    price = np.round(900.0 + np.arange(npt) % 1000 / 10.0, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npt), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, npt), rng.integers(0, 5, npt))],
        "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, npt)],
        "p_type": [types[v] for v in rng.integers(0, 5, npt)],
        "p_size": pa.array(rng.integers(1, 51, npt), i32),
        "p_retailprice": price}), f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2400, no).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _choose(rng, ["F", "O", "P"], no),
        "o_totalprice": rng.integers(100000, 50000000, no) / 100.0,
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _choose(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{out}/orders.parquet")
    per = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), per)
    nl = len(lok)
    starts = np.cumsum(per) - per
    lnum = np.arange(nl) - np.repeat(starts, per) + 1
    lpk = rng.integers(0, npt, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(lpk, i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choose(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choose(rng, ["O", "F"], nl),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.cumsum(rng.integers(1, 20_000_000, ne)).astype("timedelta64[us]")
    etypes = ["click", "view", "purchase", "error"]
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, ne), i64),
        "event_type": [etypes[v] for v in rng.integers(0, 4, ne)],
        "value": rng.integers(0, 5000, ne) / 100.0,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")
    return {"rows": {"region": 5, "nation": 25, "customer": nc,
                     "supplier": ns, "part": npt, "orders": no,
                     "lineitem": nl, "events": ne}}


def gen_dedup(rng, out):
    z = SIZES["dedup_ingest"]
    n, nb, nw, vocab = z["docs"], z["batches"], z["words"], z["vocab"]
    words = np.array([f"w{i}" for i in range(vocab)])
    texts = []
    planted = []
    for i in range(n):
        if i >= 10 and rng.random() < PLANTED_RATE:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = f"edit{i}"
            texts.append(" ".join(toks))
            planted.append((src, i))
        else:
            texts.append(" ".join(words[rng.integers(0, vocab, nw)]))
    os.makedirs(f"{out}/batches")
    per = n // nb
    for b in range(nb):
        lo, hi = b * per, (b + 1) * per if b < nb - 1 else n
        _write(pa.table({"doc_id": pa.array(np.arange(lo, hi), pa.int64()),
                         "text": texts[lo:hi]}),
               f"{out}/batches/b{b:03d}.parquet")
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f)
    return {"docs": n, "batches": nb, "words_per_doc": nw, "vocab": vocab,
            "planted_rate": PLANTED_RATE, "planted_pairs": len(planted),
            "shingle_k": 3, "threshold": 0.5}


# workloads whose warm-up runs a round over a small copy of the inputs
WARMED = {"migrate", "scan_join"}


def _warm_copy(out, share=0.1):
    """A small copy of each top-level table, in the same layout under
    `warm/`: warm-up runs the workload's plans over it, which compiles
    the same code for a fraction of the full data's cost."""
    os.makedirs(f"{out}/warm")
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            t = pq.read_table(f"{out}/{name}")
            _write(t.slice(0, max(1, int(t.num_rows * share))),
                   f"{out}/warm/{name}")


GENERATORS = {"migrate": gen_migrate, "dml_mv": gen_dml,
              "scan_join": gen_scan, "dedup_ingest": gen_dedup}


def ensure_inputs(root, workload, seed):
    """Return the input directory for (workload, seed), generating it
    the first time. The directory name carries a digest of this file, so
    a changed generator never reuses stale inputs. A directory without
    its `meta.json` is a torn earlier attempt and is regenerated."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, workload, f"seed-{seed}-{version}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    meta = GENERATORS[workload](rng, out)
    if workload in WARMED:
        _warm_copy(out)
    meta.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return out
