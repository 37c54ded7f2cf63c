"""Output checks that run outside the engine, after the timed phase.

Each returns (failures, facts): a list of failure messages and a dict
of numbers the metrics need (rows changed by DML, for example).
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events"]


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_localize(None)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal_frames(got, want):
    """None when the two frames hold the same rows in any order, else
    what differs."""
    got, want = _normalize(got), _normalize(want)
    try:
        if list(got.columns) != list(want.columns):
            raise AssertionError(f"columns {list(got.columns)} vs "
                                 f"{list(want.columns)}")
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[-1][:160]
    return None


def check_migrate(inputs, out_dir):
    """Each drained target equals the single-shot transform of its whole
    source, and each watermark equals the source's max id."""
    with open(f"{out_dir}/targets.json") as f:
        got = json.load(f)
    failures = []
    for name, dirs in sorted(got["targets"].items()):
        drained = pd.concat([pd.read_parquet(d) for d in dirs], ignore_index=True)
        diff = _equal_frames(drained, pd.read_parquet(f"{out_dir}/batch/{name}"))
        if diff:
            failures.append(f"migrate: {name} incremental != batch: {diff}")
        max_id = int(pq.read_table(f"{inputs}/{name}.parquet",
                                   columns=["id"])["id"].to_numpy().max())
        if got["watermarks"].get(name) != max_id:
            failures.append(f"migrate: {name} watermark "
                            f"{got['watermarks'].get(name)} != source max id {max_id}")
    return failures, {}


def check_scan_join(inputs, out_dir, counts):
    """Each query's full result over the small copy of the inputs equals
    its oracle SQL run in DuckDB over the same parquet (sorted multiset,
    exact values), and the row count of every measured execution equals
    the oracle's over the full inputs."""
    con = duckdb.connect()
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = []

    def views(d):
        for t in STAR_TABLES:
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    views(f"{inputs}/warm")
    for name, sql in sorted(oracle.items()):
        diff = _equal_frames(pd.read_parquet(f"{out_dir}/results/{name}"),
                             con.sql(sql).df())
        if diff:
            failures.append(f"scan_join: {name} differs from its oracle: {diff}")
    views(inputs)
    want = {name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in oracle.items()}
    bad = sorted({name for name, n in counts if n != want[name]})
    if bad:
        failures.append(f"scan_join: measured row counts differ from the "
                        f"oracle's for {bad}")
    con.close()
    return failures, {}


def replay_dml(inputs, executed):
    """Replay the first `executed` statements of the log on pandas
    frames. Returns the final fact and acct tables and the number of
    rows each statement changed."""
    with open(f"{inputs}/statements.json") as f:
        stmts = json.load(f)["statements"][:executed]
    tables = {t: pd.read_parquet(f"{inputs}/{t}.parquet").set_index("id")
              for t in ("fact", "acct")}
    changed = []
    for s in stmts:
        k, a = s["kind"], s.get("args", {})
        fact = tables["fact"]
        if k == "insert":
            rows = pd.DataFrame(a["rows"], columns=["id", "sk", "qty"])
            tables["fact"] = pd.concat([fact, rows.set_index("id")])
            changed.append(len(rows))
        elif k == "update":
            hit = fact.index.values % a["mod"] == a["rem"]
            fact.loc[hit, "qty"] += a["add"]
            changed.append(int(hit.sum()))
        elif k == "delete":
            hit = fact.index.values % a["mod"] == a["rem"]
            tables["fact"] = fact[~hit]
            changed.append(int(hit.sum()))
        elif k == "merge":
            t = tables[a["table"]]
            src = pd.read_parquet(f"{inputs}/{s['file']}").set_index("id")
            keep = t[~t.index.isin(src.index)]
            tables[a["table"]] = pd.concat([keep, src[t.columns]])
            changed.append(len(src))
        else:
            changed.append(0)
    return tables["fact"], tables["acct"], changed


def _same(got, want, key):
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)[list(got.columns)]
    return len(got) == len(want) and all(
        np.array_equal(got[c].to_numpy(np.int64), want[c].to_numpy(np.int64))
        for c in got.columns)


def check_dml_mv(inputs, out_dir, executed):
    """The final tables equal a replay of the executed statement log, and
    the refreshed view equals its defining query over the replay."""
    fact, acct, changed = replay_dml(inputs, executed)
    dim = pd.read_parquet(f"{inputs}/dim.parquet")
    failures = []
    if not _same(pd.read_parquet(f"{out_dir}/fact"),
                 fact.reset_index(), "id"):
        failures.append("dml_mv: fact differs from the statement-log replay")
    if not _same(pd.read_parquet(f"{out_dir}/acct"),
                 acct.reset_index(), "id"):
        failures.append("dml_mv: acct differs from the statement-log replay")
    mv_want = (fact.reset_index().merge(dim, left_on="sk", right_on="k")
               .groupby("nk").agg(n=("id", "size"), sq=("qty", "sum"))
               .reset_index())
    if not _same(pd.read_parquet(f"{out_dir}/mv"), mv_want, "nk"):
        failures.append("dml_mv: refreshed view differs from its defining "
                        "query over the replay")
    return failures, {"rows_changed": changed}


def _shingles(text, k=3):
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def check_dedup(inputs, out_dir, threshold=0.5):
    """Every planted pair whose documents were both ingested in the
    checked sweep is reported, and every reported pair has exact
    Jaccard at or above the threshold."""
    with open(f"{out_dir}/pairs.json") as f:
        got = json.load(f)
    with open(f"{inputs}/planted.json") as f:
        planted = json.load(f)
    files = sorted(os.listdir(f"{inputs}/batches"))[:got["batches_ingested"]]
    docs = pd.concat([pd.read_parquet(f"{inputs}/batches/{n}") for n in files])
    text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    reported = {(min(a, b), max(a, b)) for a, b, _ in got["pairs"]}
    failures = []
    missed = [(a, b) for a, b in planted
              if a in text and b in text and (min(a, b), max(a, b)) not in reported]
    if missed:
        failures.append(f"dedup_ingest: {len(missed)} planted pairs not "
                        f"reported, e.g. {missed[:3]}")
    bad = []
    for a, b in reported:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if j < threshold:
            bad.append((a, b, round(j, 3)))
    if bad:
        failures.append(f"dedup_ingest: {len(bad)} reported pairs below "
                        f"Jaccard {threshold}, e.g. {bad[:3]}")
    n_checked = sum(1 for a, b in planted if a in text and b in text)
    return failures, {"planted_checked": n_checked, "reported": len(reported)}
