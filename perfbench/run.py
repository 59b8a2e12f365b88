#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cell_store --seed 1 --seconds 15 --trace 0

Builds the engine together with the benchmark harness (sbt, cached by a
hash of the sources), runs one workload in a fresh JVM on local[nproc],
checks every op's output, and prints the metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from a traced run (spans in perfbench/out/<run>/trace.json).

Workloads and why they were chosen are in perfbench/README.md.
"""
import argparse
import datetime as dt
import hashlib
import inspect
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT / "tools"))
sys.dont_write_bytecode = True  # leave no cache files in the checkout
try:  # results are canonicalised as the repository's oracle gate does
    from check_oracle import TABLES, canon
except ImportError:
    TABLES = canon = None
FIXTURES = BENCH / "fixtures"
OUT = BENCH / "out"
WORKLOADS = ("cell_store", "corpus_llm")
# Must match graft.model.CellTable and perfbench.Main.
BASE_TS = 1700000000000
COPY_TS = 1717200000000
KEY_COLUMNS = {"customer": "c_custkey", "documents": "doc_id"}
# Pass-to-pass spread (interquartile range over median) above which a run is
# flagged as noisy in its record: the pass_s bound in BENCHMARK.json.
PASS_SPREAD_FLAG = 0.25
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait_group(proc, deadline, what):
    """Wait for a child started in its own session; past the deadline, kill
    its whole process group, wait for it, and give up."""
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded its time limit")


# ---- build ---------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness; return the runtime classpath."""
    cache = BENCH / "target" / "perfbench-classpath.txt"
    key = source_hash()
    if cache.exists():
        cached_key, _, cp = cache.read_text().partition("\n")
        if cached_key == key and cp.strip():
            return cp.strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        repos = Path.home() / ".sbt" / "repositories"
        opts += " -Dsbt.override.build.repos=true -Dsbt.offline=true"
        if repos.exists():
            opts += f" -Dsbt.repository.config={repos}"
    # temporary files stay in the checkout too
    tmp = BENCH / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(tmp)
    env["SBT_OPTS"] = opts + f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
    log = BENCH / "target" / "build.log"
    with open(log, "w") as f:
        rc = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            start_new_session=True), deadline, "build")
    lines = log.read_text(errors="replace").splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cache.write_text(key + "\n" + cps[-1])
    return cps[-1]


# ---- run -------------------------------------------------------------------

def run_jvm(cp, args, out, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed young generation: eden is wholly touched after the first
    # collection, so peak RSS moves with retained memory, not GC timing.
    cmd += ["-XX:+UseParallelGC", "-Xmn768m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dgraft.warehouse={out / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(FIXTURES), str(out), str(cores)]
    with open(out / "jvm.log", "w") as log:
        rc = wait_group(subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                         start_new_session=True), deadline, "benchmark JVM")
    if rc != 0 or not (out / "record.json").exists():
        tail = (out / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM exited with {rc}")
    return json.loads((out / "record.json").read_text())


# ---- output checks -----------------------------------------------------------

def oracle(con, fixtures, sql):
    """Canonical oracle result. The fixtures are fixed and the statement
    text is deterministic, so results are kept on disk by a digest of both
    and of the canonicaliser: some statements (all-pairs dedup) take DuckDB
    many seconds."""
    h = hashlib.sha256(sql.encode())
    h.update(inspect.getsource(canon).encode())
    for f in sorted(fixtures.glob("*.parquet")):
        h.update(f.read_bytes())
    path = OUT / "oracle-cache" / f"{h.hexdigest()}.json"
    if path.exists():
        cached = json.loads(path.read_text())
        return pd.DataFrame(cached["rows"], columns=cached["columns"], dtype=object)
    want = canon(con.sql(sql).df())
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"columns": list(want.columns),
                                "rows": want.values.tolist()}))
    return want


def check_queries(out, con, fixtures):
    """Registry query outputs against their DuckDB oracle statements."""
    oracles = json.loads((out / "check" / "oracle_sql.json").read_text())
    bad = {}
    for name in sorted(p.name for p in (out / "check").iterdir() if p.is_dir()):
        if name not in oracles:
            bad[name] = "no oracle statement"
            continue
        try:
            got = canon(duckdb.sql(f"SELECT * FROM '{out}/check/{name}/*.parquet'").df())
            want = oracle(con, fixtures, oracles[name])
            if list(got.columns) != list(want.columns):
                bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                bad[name] = f"rows {len(got)} != {len(want)}"
            elif not got.equals(want):
                bad[name] = f"{int((got != want).any(axis=1).sum())} rows differ"
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            bad[name] = f"{type(e).__name__}: {e}"
    return bad


def spark_string(v):
    """A fixture value as the engine's string cast renders it."""
    if isinstance(v, dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}".rstrip("0") if v.microsecond else "")
    return str(v)


def same_value(got, want):
    if isinstance(want, float):
        return got is not None and float(got) == want
    return got == spark_string(want)


def fixture_rows(fixtures, table):
    rows = pq.read_table(fixtures / f"{table}.parquet").to_pylist()
    return {r[KEY_COLUMNS[table]]: r for r in rows}


def expected_cells(row, table, ts):
    return {(table, c, ts, "Put"): v for c, v in row.items() if c != KEY_COLUMNS[table]}


def cells_match(cells, row, table, ts):
    want = expected_cells(row, table, ts) if row is not None else {}
    got = {tuple(c[:4]): c[4] for c in cells}
    return got.keys() == want.keys() and all(same_value(got[k], want[k]) for k in want)


def to_string_binary(b):
    """graft.functions.BytesBinaryCodec.encode."""
    return "".join(chr(x) if 32 <= x <= 126 and x != 92 else f"\\x{x:02X}" for x in b)


def check_cells(fixtures, checks, gets):
    bad = {}
    rows = {}

    def table_rows(t):
        if t not in rows:
            rows[t] = fixture_rows(fixtures, t)
        return rows[t]

    for g in gets:
        key = bytes.fromhex(g["key_hex"])
        row = table_rows(g["table"]).get(int.from_bytes(key, "big", signed=True)) \
            if len(key) == 8 else None
        if not cells_match(g["cells"], row, g["table"], BASE_TS):
            bad.setdefault(f"get_{g['label']}", f"key {g['key_hex']}: wrong cells")
    if "copy_row" in checks:
        c = checks["copy_row"]
        if not cells_match(c["cells"], table_rows(c["table"]).get(c["key"]), c["table"], COPY_TS):
            bad["copy_row"] = f"destination cells of key {c['key']} differ from the source row"
    if "corrupt_scan" in checks:
        c = checks["corrupt_scan"]
        poisoned = sorted(to_string_binary(k.to_bytes(8, "big", signed=True))
                          for k, r in table_rows(c["table"]).items() if r["c_acctbal"] < 0)
        got = sorted(l.split("\t")[0] for l in c["lines"])
        if got != poisoned:
            bad["corrupt_scan"] = f"{len(got)} keys reported, {len(poisoned)} poisoned"
    if "compaction" in checks:
        c = checks["compaction"]
        ks = list(table_rows(c["table"]))
        ncols = len(next(iter(table_rows(c["table"]).values()))) - 1
        # two extra versions where key % 10 == 0, a delete marker where
        # key % 7 == 0 that masks all but the newest extra version
        before = ncols * (len(ks) + 2 * sum(k % 10 == 0 for k in ks)
                          + sum(k % 7 == 0 for k in ks))
        after = ncols * (len(ks) - sum(k % 7 == 0 and k % 10 != 0 for k in ks))
        if (c["cells_before"], c["cells_after"]) != (before, after):
            bad["rebuild_compact"] = (f"cells {c['cells_before']}->{c['cells_after']}, "
                                      f"expected {before}->{after}")
    return bad


def check_outputs(out, record):
    fixtures = Path(record["fixtures"])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures / t}.parquet'")
    checks = record["checks"]
    bad = check_queries(out, con, fixtures)
    bad.update(check_cells(fixtures, checks, checks.get("gets", [])))
    return bad


# ---- report ----------------------------------------------------------------

def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or canon is None:
        fail(f"engine sources or tools/check_oracle.py not found under {ROOT}")
    if not FIXTURES.is_dir():
        fail("fixtures missing")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark installation")

    cp = build(start + BUILD_LIMIT_S)
    built = time.time()
    out = OUT / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t_jvm = time.time()
    record = run_jvm(cp, args, out, t_jvm + RUN_LIMIT_S - 12)
    ran = time.time()
    bad = check_outputs(out, record)
    checked = time.time()
    shutil.rmtree(out / "tmp", ignore_errors=True)
    shutil.rmtree(out / "work", ignore_errors=True)

    # failures: executions that threw or failed an in-line check, plus every
    # execution of an op whose checked output was wrong
    runs_of = {}
    for p in record["passes"]:
        for name, _kind, _ms, _ok in p["ops"]:
            runs_of[name] = runs_of.get(name, 0) + 1
    failed = len(record["failures"]) + sum(runs_of.get(n, 0) + 1 for n in bad)
    attempted = record["attempted"]
    failed = min(failed, attempted)

    untraced = [p["s"] for p in record["passes"] if not p["traced"]]
    hygiene = {
        "nproc": record["nproc"],
        "loadavg_pre_warmup": record["loadavg_pre_warmup"],
        "loadavg_end": record["loadavg_end"],
        "warmup_passes": record["warmup_passes"],
        "timed_passes": len(record["passes"]),
        "pass_s": untraced,
        "pass_spread_iqr_over_median": spread(untraced),
        "pass_max_over_min": max(untraced) / min(untraced),
        "ready_s": record["ready_s"],
        "build_s": built - start,
        "jvm_s": ran - t_jvm,
        "check_s": checked - ran,
        **record["tails"],
        "fail_ratio": failed / attempted,
    }
    hygiene["flagged_noisy"] = hygiene["pass_spread_iqr_over_median"] > PASS_SPREAD_FLAG
    key = "per_layer" if args.trace else "end_to_end"
    metrics = record[key]
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "hygiene": hygiene, "check_failures": bad,
               "op_failures": record["failures"], "writes": record["writes"],
               key: metrics, "wall_s": time.time() - start}
    (out / "result.json").write_text(json.dumps(summary, indent=1))

    for name, m in sorted(metrics.items()):
        print(f"{name:45s} {m['value']:>16.6g} {m['unit']}")
    for k, v in hygiene.items():
        print(f"# {k}: {v}")
    for name, why in sorted(bad.items()):
        print(f"# CHECK FAILED {name}: {why}")
    for f in record["failures"]:
        print(f"# OP FAILED {f['op']}: {f['error']}")
    print(json.dumps({"correct": not bad and not record["failures"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
