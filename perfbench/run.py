#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source on first use (perfbench/build.sh, into .bench_build/perfbench),
makes the workload's inputs from the seed, runs it in a fresh JVM,
checks the outputs, prints every metric with its unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones plus the tracing overhead against the untraced runs of
the same workload made in this checkout. Exits nonzero when an output is
wrong.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True  # gen.py is imported; keep the tree clean

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170.0  # per run, after the build
WORKLOADS = ("alert_stream", "query_board")
# the metric the tracing overhead is stated on, per workload
OVERHEAD_ON = {"alert_stream": "latency_p50_ms",
               "query_board": "warm_total_s"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: SPARK_HOME unset and no spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources to build "
                         "(src/main/scala missing)")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building program and benchmark")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(workload, seed, seconds, trace, work, deadline):
    jars = spark_jars()
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties")] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", os.path.join(BUILD, "classes") + os.pathsep +
            os.path.join(jars, "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--spans",
            os.path.join(WORK, "spans", f"{workload}-{seed}.jsonl")])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         cwd=work, env=env, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {workload} run exceeded its deadline")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {workload} JVM exited {p.returncode} "
                         "without a result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def norm(v):
    """A cell as compared across engines: floats to 9 significant digits
    (summation order differs between engines), everything else as text."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "is_finite"):  # Decimal
        return f"{float(v):.9g}"
    return str(v)


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall()))


def oracle_check(tables, checks):
    """Row count and order-independent checksum of each cold result
    against its DuckDB oracle. Returns a list of failure notes."""
    con = duckdb.connect()
    for f in os.listdir(tables):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(tables, f)}'")
    bad = []
    for c in checks:
        try:
            want_cols, want = rows_of(con, c["oracle"])
            if c["rows"] == 0:
                got_cols, got = want_cols, []
            else:
                got_cols, got = rows_of(
                    con, f"SELECT * FROM '{c['path']}/*.parquet'")
        except Exception as e:  # an oracle or result that cannot be read
            bad.append(f"{c['name']}: {str(e)[:200]}")
            continue
        digest = lambda rs: hashlib.sha256(repr(rs).encode()).hexdigest()
        if got_cols != want_cols or len(got) != len(want) \
                or digest(got) != digest(want):
            bad.append(f"{c['name']}: {len(got)} rows vs oracle {len(want)}"
                       f" (columns {got_cols} vs {want_cols})")
    con.close()
    return bad


def history_path(workload):
    return os.path.join(WORK, "untraced", f"{workload}.jsonl")


def untraced_reference(workload):
    p = history_path(workload)
    if not os.path.exists(p):
        return None
    vals = [json.loads(l)[OVERHEAD_ON[workload]] for l in open(p)
            if l.strip()]
    vals = sorted(vals[-5:])
    return vals[len(vals) // 2]


def one_run(workload, seed, seconds, trace, deadline):
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}"
                        f"{'-trace' if trace else ''}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if workload == "query_board":
            sys.path.insert(0, HERE)
            import gen
            gen.write(os.path.join(work, "tables"), seed)
        res = run_jvm(workload, seed, seconds, trace, work, deadline)
        notes = list(res.get("notes", []))
        failed = res["failed"]
        attempted = res["attempted"]
        checks = res.get("board_checks", [])
        if checks:
            bad = oracle_check(os.path.join(work, "tables"), checks)
            failed += len(bad)
            notes += bad
        metrics = {k: (v[0], v[1]) for k, v in res["metrics"].items()}
        missing = [k for k, (v, _) in metrics.items() if v is None]
        if missing:  # a metric with no samples: the run did not work
            failed += 1
            notes.append(f"no value for {', '.join(missing)}")
            metrics = {k: (v or 0.0, u) for k, (v, u) in metrics.items()}
        return metrics, attempted, failed, notes
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    deadline = time.time() + DEADLINE_S

    overhead = None
    metrics, attempted, failed, notes = one_run(
        a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    if a.trace:
        # against the untraced runs of this checkout; 0 (and said so
        # below) when there is none to compare with
        ref = untraced_reference(a.workload)
        if ref is not None:
            overhead = 100.0 * (metrics[OVERHEAD_ON[a.workload]][0] / ref
                                - 1.0)
        metrics["trace.overhead_pct"] = (overhead or 0.0, "%")
    else:
        os.makedirs(os.path.dirname(history_path(a.workload)), exist_ok=True)
        with open(history_path(a.workload), "a") as fh:
            fh.write(json.dumps({k: v[0] for k, v in metrics.items()}) + "\n")

    for n in notes:
        log(f"check failed: {n}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"wall {time.time() - t_start:.1f} s")
    for k, (v, u) in metrics.items():
        print(f"  {k:<40} {v:>16.6g} {u}")
    print(f"  {'failed_ratio':<40} {failed / max(1, attempted):>16.6g} "
          f"ratio ({failed} of {attempted})")
    if a.trace:
        print(f"  tracing overhead on {OVERHEAD_ON[a.workload]}: " +
              (f"{overhead:+.1f}%" if overhead is not None else
               "not measured (no untraced run of this workload recorded)"))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for w in wanted:
        v = metrics.get(w["name"], (0.0, w["unit"]))[0]
        out[w["name"]] = {"value": v, "unit": w["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
