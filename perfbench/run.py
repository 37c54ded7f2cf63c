#!/usr/bin/env python3
"""graft benchmark: four seeded workloads through the engine's public
entry points, measured from outside the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <migrate|dml_mv|scan_join|dedup_ingest>
                           --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine from source with sbt
(offline) into `.bench_build/`; later runs reuse the build while the
sources are unchanged. Inputs are generated per (workload, seed) under
`.bench_work/inputs/`. Each run works in a fresh directory under
`.bench_work/` — tables, indexes, checkpoints, the warehouse, the
metastore, Spark's local dirs and temp files — deleted afterwards.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed`, and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). A failed output check exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["migrate", "dml_mv", "scan_join", "dedup_ingest"]
# set-up repetitions per run; set-up time is their median
SETUPS = 3
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"engine sources not found at {os.path.relpath(r, ROOT)}: "
                 "run from a full checkout of the repository")
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if not os.path.isfile(f):
            fail(f"build file missing: {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark driver (offline sbt) and
    return the runtime classpath; skipped when sources are unchanged."""
    digest = _digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
            "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.ivy.home={BUILD}/ivy2", f"-Djava.io.tmpdir={BUILD}/tmp",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts[0] and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    # every JVM the sbt launcher starts keeps its perf counters and
    # native-library scratch inside the checkout too
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                f" -XX:-UsePerfData -Djna.tmpdir={BUILD}/tmp")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, stdin=subprocess.DEVNULL, text=True,
                           timeout=800)
        lf.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines()
           if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        fail(f"build failed (sbt exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1].strip()


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, inputs, work, seconds, trace, cores, deadline):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "local", "derby", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", "--workload", workload,
            "--inputs", inputs, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores),
            "--setups", str(SETUPS), "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # never leave the JVM behind: on a timeout, or when this
            # process is stopped (SIGTERM raises SystemExit, below)
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc}); log above")
    with open(out) as f:
        return json.load(f)


def per_layer_registered():
    """BENCHMARK.json's per-layer metrics, name -> unit. Each must be
    one this benchmark computes, in the same unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    wrong = [k for k, u in want.items() if layers.PER_LAYER.get(k) != u]
    if wrong:
        fail(f"BENCHMARK.json lists per-layer metrics this benchmark does "
             f"not compute in that unit: {wrong}")
    return want


def tail(lat):
    """The highest whole percentile (at most p99) with at least ten
    samples beyond it, by nearest rank: p90 at 100 samples. With too few
    samples for any percentile above the median, the slowest operation
    (p100, none beyond)."""
    xs = sorted(lat)
    n = len(xs)
    p = min(99, 100 * (n - 10) // n) if n > 10 else 0
    if p <= 50:
        return 100, xs[-1], 0
    k = -(-p * n // 100)
    return p, xs[k - 1], n - k


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    registered = per_layer_registered() if a.trace else {}
    cp = build()
    # the limit covers the measured run, not a first-run build
    deadline = time.time() + RUN_LIMIT_S
    t_gen = time.time()
    inputs = gen.ensure_inputs(os.path.join(WORK, "inputs"), a.workload, a.seed)
    t_jvm = time.time()
    with open(os.path.join(inputs, "meta.json")) as f:
        meta = json.load(f)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(started * 1000)}")
    os.makedirs(work)
    try:
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace,
                      cores, deadline)
        t_check = time.time()
        failures = list(res["check_failures"])
        out_dir = os.path.join(work, "check")
        facts = {}
        ops = res["ops"]
        try:
            if a.workload == "scan_join":
                counts = [(k.split(":")[2], int(v))
                          for k, v in res["notes"].items() if k.startswith("count:")]
                f, facts = checks.check_scan_join(inputs, out_dir, counts)
            elif a.workload == "migrate":
                f, facts = checks.check_migrate(inputs, out_dir)
            elif a.workload == "dml_mv":
                f, facts = checks.check_dml_mv(inputs, out_dir, len(ops))
            else:
                f, facts = checks.check_dedup(inputs, out_dir)
            failures += f
        except Exception as e:  # a crashed check is a failed check
            failures.append(f"{a.workload}: check crashed: {e!r}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t_end = time.time()

    timed_s = res["timed_ns"] / 1e9
    ok_ops = [o for o in ops if o["ok"]]
    rows, user_bytes = op_rows(a.workload, meta, inputs, ok_ops, facts)
    rates = round_rates(res, ok_ops, rows)
    lat = [(o["end"] - o["start"]) / 1e6 for o in ok_ops]
    failed = sum(1 for o in ops if not o["ok"]) + len(failures)
    attempted = max(len(ops), 1)
    setup_s = (res["session_s"] + res["warmup_s"] +
               statistics.median(res["setup_table_s"]))
    pct, tail_ms, beyond = tail(lat) if lat else (50, 0.0, 0)
    facts["write_amp"] = res["bytes_written"] / user_bytes if user_bytes else 0.0

    print(f"[perfbench] workload={a.workload} seed={a.seed} nproc={cores} "
          f"seconds={a.seconds} trace={a.trace}")
    print(f"[perfbench] session {json.dumps(res['session_conf'], sort_keys=True)}")
    print(f"[perfbench] inputs {json.dumps(meta.get('rows', meta), sort_keys=True)}")
    print(f"[perfbench] phases: build {t_gen - started:.1f} s, inputs "
          f"{t_jvm - t_gen:.1f} s, JVM {t_check - t_jvm:.1f} s (checks "
          f"{res['check_s']:.1f} s), checks outside the JVM "
          f"{t_end - t_check:.1f} s")
    e2e = {
        "setup_s": (setup_s, "s", f"session {res['session_s']:.2f} s + warm-up "
                    f"{res['warmup_s']:.2f} s + median of "
                    f"{len(res['setup_table_s'])} set-ups"),
        "rows_per_s": (statistics.median(rates) if rates else 0.0, "1/s",
                       f"median of {len(rates)} rounds; {sum(rows):.0f} rows "
                       f"in {timed_s:.2f} s overall"),
        "op_p50_ms": (statistics.median(lat) if lat else 0.0, "ms", f"n={len(lat)}"),
        "op_tail_ms": (tail_ms, "ms", f"p{pct}, n={len(lat)}, {beyond} beyond"),
    }
    for k, (v, u, note) in e2e.items():
        print(f"[perfbench] {k} = {v:.4f} {u} ({note})")
    print(f"[perfbench] peak_rss_mb = {res['vmhwm_kb'] / 1024.0:.1f} MB (VmHWM)")
    print(f"[perfbench] fail_ratio = {failed / attempted:.4f} "
          f"({failed} of {attempted})")
    if a.workload != "scan_join":
        print(f"[perfbench] write_amp = {facts['write_amp']:.4f} "
              f"({res['bytes_written']} bytes written / {user_bytes} user bytes)")
    for msg in failures:
        print(f"[perfbench] CHECK FAILED: {msg}")

    if a.trace:
        metrics, acct = layers.per_layer(res, facts, cores)
        for k, v in metrics.items():
            print(f"[perfbench] {k} = {v:.4f} {layers.PER_LAYER[k]}")
        print(f"[perfbench] accounting: {json.dumps(acct, sort_keys=True)}")
        if not acct["ok"]:
            failures.append("trace: span self times leave "
                            f"{acct['residual_ms']:.1f} ms of "
                            f"{acct['wall_ms']:.1f} ms traced wall uncovered")
            failed += 1
        # the result carries the per-layer metrics BENCHMARK.json lists
        out = {k: {"value": float(metrics[k]), "unit": u}
               for k, u in registered.items()}
    else:
        out = {k: {"value": float(v), "unit": u} for k, (v, u, _) in e2e.items()}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


def op_rows(workload, meta, inputs, ops, facts):
    """User rows each successful operation processed, and the bytes of
    user rows the workload loaded (for write amplification)."""
    if workload == "migrate":
        # a pass moves every source row; its batches share them
        per_pass = sum(meta["rows"].values())
        size = sum(os.path.getsize(f"{inputs}/{t}.parquet")
                   for t in meta["rows"])
        n = meta["batches_per_pass"]
        return [per_pass / n for _ in ops], len(ops) / n * size
    if workload == "dml_mv":
        changed = facts.get("rows_changed", [])
        rows = [changed[int(o["info"])] for o in ops]
        per_row = os.path.getsize(f"{inputs}/fact.parquet") / meta["rows"]["fact"]
        return rows, sum(rows) * per_row
    if workload == "scan_join":
        return [sum(meta["rows"][t] for t in layers.SCAN_TABLES[o["kind"]])
                for o in ops], 0
    files = sorted(os.listdir(f"{inputs}/batches"))
    paths = [f"{inputs}/batches/{files[int(o['info'])]}" for o in ops]
    return ([pq.read_metadata(p).num_rows for p in paths],
            sum(os.path.getsize(p) for p in paths))


def round_rates(res, ops, rows):
    """Rows per second of each round of the timed phase (bookkeeping
    paused inside a round excluded)."""
    rates = []
    for r in res["rounds"]:
        n = sum(x for o, x in zip(ops, rows) if r["start"] <= o["start"] <= r["end"])
        dur = (r["end"] - r["start"] - r["paused"]) / 1e9
        if dur > 0:
            rates.append(n / dur)
    return rates


if __name__ == "__main__":
    main()
