#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

One run:
    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Both workloads for one seed, untraced then traced, with a summary
table (median, quartiles and sample count per metric, fail_ratio,
per-layer metrics and the tracing overhead):
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

The runner builds the program and the harness from source (sbt, cached
by a hash of the sources), runs the harness JVM, checks the batch
workload's results against DuckDB, and prints one JSON result object as
the last line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ["serve_read", "batch_mixed"]
TABLES = ["events", "documents"]
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("SPARK_HOME must point at a Spark installation with a jars/ directory")
    return Path(home) / "jars"


def source_files():
    src = ROOT / "src" / "main" / "scala"
    if not (src / "graft").is_dir():
        raise BenchError(f"program sources not found under {src}")
    files = sorted(src.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def build():
    """Compile the program and the harness; skipped when the sources
    hash matches the last successful build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BENCH / "target" / "perfbench.stamp"
    classes = BENCH / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building program + harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    log(f"build done in {time.time() - t0:.0f} s")
    stamp.write_text(h.hexdigest())
    return classes


def driver_mem():
    """Heap for the harness JVM: SPARK_DRIVER_MEM when set, else a
    quarter of physical memory, between 2 and 4 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classes, args, work):
    """Run the harness for one workload; returns its result record."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{classes}{os.pathsep}{spark_jars()}/*"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", *opens, "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.trace:
        out = BENCH / "out"
        out.mkdir(exist_ok=True)
        cmd += ["--spans", str(out / f"spans-{args.workload}-seed{args.seed}.jsonl")]
    if args.tiny:
        cmd.append("--tiny")
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    errlog = work / "jvm.stderr.log"
    with open(errlog, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(errlog.read_text()[-4000:])
        raise BenchError(f"harness JVM failed (exit {p.returncode})")
    return json.loads(lines[-1])


def load_check_module():
    """The repository's result normalisation (scripts/check.py)."""
    import importlib.util
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(rec):
    """Compare each dumped batch result with DuckDB running the query's
    oracle SQL: schema, row count and an order-insensitive comparison
    of the normalised rows. A mismatch fails every timed run of that
    query."""
    import duckdb
    check = load_check_module()
    b = rec["details"]["batch"]
    dump, tables = Path(b["dump"]), Path(b["tables"])
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / (t + '.parquet')}/*.parquet'")
    planted = b.get("plant_wrong", False)
    for q in b["order"]:
        why = None
        try:
            got_rel = con.sql(f"SELECT * FROM '{dump / q}/*.parquet'")
            got_cols, got = list(got_rel.columns), got_rel.fetchall()
            if q not in oracle:
                why = None if got else "no oracle and zero rows"
            else:
                exp_rel = con.sql(oracle[q])
                exp_cols, exp = list(exp_rel.columns), exp_rel.fetchall()
                if planted:
                    exp, planted = exp[1:], False
                if sorted(got_cols) != sorted(exp_cols):
                    why = f"schema: {sorted(got_cols)} vs oracle {sorted(exp_cols)}"
                elif len(got) != len(exp):
                    why = f"row count {len(got)} vs oracle {len(exp)}"
                elif sorted(check.table_repr(got_cols, got)) != sorted(check.table_repr(exp_cols, exp)):
                    why = "values differ from the oracle"
        except Exception as e:  # unreadable dump or failing oracle SQL
            why = f"check failed: {e}"
        if why:
            n = max(1, b["runs"].get(q, 0))
            rec["failed"] += n
            rec["failures"].append(f"{q}: {why}")
    rec["attempted"] = max(rec["attempted"], rec["failed"])


def run_one(args, classes=None):
    """One workload run; returns the result record (with the oracle
    check applied) or raises BenchError."""
    classes = classes or build()
    work = BENCH / "work" / f"{args.workload}-{os.getpid()}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rec = run_jvm(classes, args, work)
        if args.workload == "batch_mixed":
            oracle_check(rec)
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract():
    spec = BENCH.parent / "BENCHMARK.json"
    if not spec.exists():
        raise BenchError("BENCHMARK.json not found at the repository root")
    return json.loads(spec.read_text())


def final_line(rec, trace):
    """The contract's result object: every end_to_end metric
    (untraced) or every per_layer metric (traced), by name and unit."""
    spec = contract()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    source = rec["layers"] if trace else rec["metrics"]
    metrics = {}
    for m in names:
        got = source.get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            raise BenchError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": rec["failed"] == 0, "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def record(rec, args):
    """Keep the run's full record (host state, quartiles, failures)."""
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    row = dict(rec, seed=args.seed, trace=args.trace, seconds=args.seconds, time=time.time())
    with open(out / "runs.jsonl", "a") as f:
        f.write(json.dumps(row) + "\n")


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def summary(recs):
    """Human-readable table for `--workload all`."""
    for w in WORKLOADS:
        plain, traced = recs[w]
        ratio = plain["failed"] / max(plain["attempted"], 1)
        print(f"\n== {w}  attempted={plain['attempted']} failed={plain['failed']} "
              f"fail_ratio={ratio:.4g}  host={json.dumps(plain['details'].get('host'))}")
        for f in plain["failures"][:5]:
            print(f"   failure: {f}")
        print(f"   {'metric':34} {'unit':6} {'median':>10} {'q1':>10} {'q3':>10} {'n':>6} {'traced-untraced':>16}")
        print(f"   {'fail_ratio':34} {'ratio':6} {ratio:>10.4g} {'-':>10} {'-':>10} {plain['attempted']:>6}")
        for name, m in plain["metrics"].items():
            t = traced["metrics"].get(name, {}).get("value")
            over = None if t is None or m["value"] is None else t - m["value"]
            print(f"   {name:34} {m['unit']:6} {fmt(m['value']):>10} {fmt(m['q1']):>10} "
                  f"{fmt(m['q3']):>10} {m['n']:>6} {fmt(over):>16}")
        print("   -- per layer (traced run)")
        for name, m in traced["layers"].items():
            print(f"   {name:34} {m['unit']:6} {fmt(m['value']):>10} {fmt(m['q1']):>10} "
                  f"{fmt(m['q3']):>10} {m['n']:>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (tests)")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="self-test: corrupt one expected answer; the run must count a failure")
    args = ap.parse_args()
    try:
        contract()
        classes = build()
        if args.workload == "all":
            recs, ok = {}, True
            for w in WORKLOADS:
                pair = []
                for trace in (0, 1):
                    a = argparse.Namespace(**{**vars(args), "workload": w, "trace": trace})
                    rec = run_one(a, classes)
                    record(rec, a)
                    ok &= rec["failed"] == 0
                    pair.append(rec)
                recs[w] = pair
            summary(recs)
            return 0 if ok else 1
        rec = run_one(args, classes)
        record(rec, args)
        line = final_line(rec, args.trace)
        print(json.dumps({"workload": args.workload, "host": rec["details"].get("host"),
                          "failures": rec["failures"][:5],
                          "detail": rec["layers"] if args.trace else rec["metrics"]}))
        print(json.dumps(line))
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
