#!/usr/bin/env python3
"""Benchmark entry point: builds the program with the benchmark, runs one
workload and prints its metrics, ending with one JSON line.

    python3 perfbench/run.py --workload tune --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --smoke            # self-test, under 2 minutes
    python3 perfbench/run.py --pins [--record] [--full]

Run it from the root of a checkout. build.py compiles the program with the
benchmark on first use and again whenever a source file changes.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build as build_mod  # noqa: E402  (after disabling .pyc files)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("tune", "oos_cv", "corpus")
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
XMX = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    try:
        return build_mod.build()
    except build_mod.BuildError as e:
        fail(str(e))


def java(classpath, args, timeout):
    """Runs the benchmark JVM in its own process group and waits for it."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--root", ROOT] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def oracle_check(dump_dir, data_dir):
    """Compares each dumped query result with its DuckDB oracle by the rules
    of tools/oracle_check.py: same column names, same types as a
    type-sensitive hash sees them, same row count, and every value equal
    within 1e-9 relative after the canonical column and row sort. Values
    that match only within that tolerance, which an exact hash would
    reject, are listed apart. Returns (checked, failures, inexact)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import oracle_check as oc
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    names = sorted(d for d in os.listdir(dump_dir) if os.path.isdir(os.path.join(dump_dir, d)))
    failures, inexact = [], []
    for name in names:
        files = sorted(f for f in os.listdir(os.path.join(dump_dir, name)) if f.endswith(".parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        tbl = pa.concat_tables([pq.read_table(os.path.join(dump_dir, name, f)) for f in files])
        scols = tbl.column_names
        srows = [tuple(r[c] for c in scols) for r in tbl.to_pylist()]
        if name not in oracle:
            if not srows:
                failures.append(f"{name}: empty result (rows-only check)")
            continue
        try:
            otbl = con.execute(oracle[name]).arrow()
            if not isinstance(otbl, pa.Table):
                otbl = otbl.read_all()
        except Exception as e:  # the oracle SQL itself failed
            failures.append(f"{name}: oracle SQL error: {e}")
            continue
        ocols = otbl.column_names
        orows = [tuple(r[c] for c in ocols) for r in otbl.to_pylist()]
        if sorted(scols) != sorted(ocols):
            failures.append(f"{name}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
            continue
        tdiffs = oc.dtype_diffs(tbl.schema, otbl.schema)
        if tdiffs:
            failures.append(f"{name}: types differ {tdiffs}")
            continue
        if len(srows) != len(orows):
            failures.append(f"{name}: {len(srows)} rows vs oracle {len(orows)}")
            continue
        pairs = [(a, b) for rs, ro in zip(oc.canon(srows, scols), oc.canon(orows, ocols))
                 for a, b in zip(rs, ro)]
        bad = [(a, b) for a, b in pairs if not oc.val_eq(a, b)]
        if bad:
            failures.append(f"{name}: {len(bad)}/{len(pairs)} values differ, e.g. {bad[0]}")
            continue
        near = [(a, b) for a, b in pairs if str(a) != str(b)]
        if near:
            inexact.append(f"{name}: {len(near)}/{len(pairs)} values match only within "
                           f"tolerance, e.g. {near[0]}")
    return len(names), failures, inexact


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def artifact_path(parent, digest, tag):
    """A run's artifact file: one directory per source digest, so the runs
    of two commits never mix, and a UTC time stamp in the name, so a
    re-run never overwrites an earlier one."""
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    return os.path.join(parent, digest[:12], f"{tag}-{stamp}-{os.getpid()}.json")


def finish(raw, digest, dump_dir, data_dir, trace, artifact, smoke=False):
    """Adds the oracle check to a JVM result, writes the artifact and
    returns the final result line and the artifact."""
    attempted, failures, inexact = raw["attempted"], list(raw["failures"]), []
    if dump_dir and os.path.isdir(dump_dir):
        checked, ofail, inexact = oracle_check(dump_dir, data_dir)
        attempted += checked
        failures += ofail
        shutil.rmtree(dump_dir, ignore_errors=True)
    metrics = raw["metrics"]
    if trace:
        metrics["fail_ratio"] = {"value": len(failures) / max(1, attempted), "unit": "ratio"}
    run = dict(raw["run"], git_commit=git_commit(), source_digest=digest, smoke=smoke,
               attempted=attempted, failures=failures, inexact=inexact, metrics=metrics)
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    with open(artifact, "w") as fh:
        json.dump(run, fh, indent=1)
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}, run


def run_workload(a):
    digest, cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw_path = os.path.join(OUT, f"raw-{tag}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    code = java(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", raw_path],
                RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw_path):
        fail(f"benchmark JVM exited with code {code}", 1)
    with open(raw_path) as fh:
        raw = json.load(fh)
    os.remove(raw_path)
    dump = os.path.join(OUT, f"corpus-{a.seed}-{a.trace}") if a.workload == "corpus" else None
    res, art = finish(raw, digest, dump, os.path.join(HERE, "data", "sf0.01"), a.trace,
                      artifact_path(os.path.join(OUT, "artifacts"), digest, tag))
    r = raw["run"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={r['cores']} jvm={r['jvm']} "
          f"xmx_mb={r['xmx_mb']:.0f} steal_pct={r['steal_pct']:.2f} canary_s={r['canary_s']:.3f} "
          f"cases={','.join(r['cases'])}")
    for k, v in res["metrics"].items():
        print(f"{k:40s} {v['value']:14.6g} {v['unit']}")
    print(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for f in art["failures"]:
        print(f"FAILED {f}")
    for f in art["inexact"]:
        print(f"INEXACT {f}")
    print(json.dumps(res))


def smoke():
    """One tiny case per workload, traced and untraced: every metric named in
    BENCHMARK.json must be emitted, every check must pass, and a perturbed
    pin must fail its check. Its results and artifacts stay in out/smoke,
    apart from the artifacts of real runs."""
    digest, cp = build()
    spec = bench_spec()
    code = java(cp, ["--mode", "smoke"], RUN_TIMEOUT_S)
    problems = [] if code == 0 else [f"smoke JVM exited with code {code}"]
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            path = os.path.join(OUT, "smoke", f"smoke-{w}-{trace}.json")
            if not os.path.exists(path):
                problems.append(f"{w} trace {trace}: no result")
                continue
            with open(path) as fh:
                raw = json.load(fh)
            dump = os.path.join(OUT, f"corpus-1-{trace}") if w == "corpus" else None
            res, _ = finish(raw, digest, dump, os.path.join(HERE, "data", "sf0.001"), trace,
                            artifact_path(os.path.join(OUT, "smoke"), digest, f"{w}-trace{trace}"),
                            smoke=True)
            missing = [m["name"] for m in spec[group] if m["name"] not in res["metrics"]]
            extra = set(res["metrics"]) - {m["name"] for m in spec[group]}
            if missing or extra:
                problems.append(f"{w} trace {trace}: missing {missing}, unexpected {sorted(extra)}")
            if not res["correct"]:
                problems.append(f"{w} trace {trace}: {res['failed']} failed checks")
            print(f"[smoke] {w} trace={trace} attempted={res['attempted']} failed={res['failed']} "
                  f"metrics={len(res['metrics'])}")
    for p in problems:
        print(f"[smoke] PROBLEM {p}")
    print("[smoke] " + ("PASS" if not problems else "FAIL"))
    sys.exit(0 if not problems else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pins", action="store_true", help="check (or --record) the pinned outputs")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--full", action="store_true", help="with --pins: add the costly cross-check cases")
    a = ap.parse_args()
    if a.smoke:
        smoke()
    elif a.pins:
        digest, cp = build()
        sys.exit(java(cp, ["--mode", "pins", "--record", "1" if a.record else "0",
                           "--full", "1" if a.full else "0"], None))
    elif a.workload:
        run_workload(a)
    else:
        ap.error("--workload, --smoke or --pins is required")


if __name__ == "__main__":
    main()
