#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 benchmark/run.py --workload W --seed N --seconds S --trace {0,1}
    python3 benchmark/run.py --self-check

Run from the repository root. The first run compiles src/main/scala and
benchmark/src into $CARGO_TARGET_DIR (default .bench_build) and reuses the
classes while the sources are unchanged. Each run gets a fresh directory for
checkpoints, warehouse, java.io.tmpdir and inputs, removed afterwards.
W is a workload of BENCHMARK.json (board_heavy, board_light): with --trace 0
the result carries every end-to-end metric of BENCHMARK.json, with --trace 1
every per-layer metric. The bus workloads (bus_rpc, bus_drain) run the same
way but are not in BENCHMARK.json: they fail on a MemoryBus defect (see
NOTES.md), and their results carry every metric they measured.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_board  # noqa: E402

SPARK_JARS = os.environ.get("SPARK_JARS") or os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
JVM_TIMEOUT_S = 170
# the end-to-end metrics of the workloads outside BENCHMARK.json
BUS_E2E = {
    "bus_rpc": ["setup_s", "peak_rss_mb", "rtt_p50_ms", "rtt_p90_ms"],
    "bus_drain": ["setup_s", "peak_rss_mb", "events_per_s"],
}
# The board's tables are fixed (the seed only shuffles rep order), so the
# oracle's fingerprints can be cached by data digest.
BOARD_DATA = dict(seed=42, docs=200, events=5000, lineitem=10000)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sh")]


def build(target):
    """Compiles when the sources changed since the last build."""
    classes = os.path.join(target, "classes")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(target, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    os.makedirs(target, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                       stdout=sys.stderr, stderr=sys.stderr,
                       env=dict(os.environ, SPARK_JARS=SPARK_JARS))
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def fingerprint(con, sql):
    """tools/compare_oracle.py's comparison: columns sorted by name, rows
    stringified, sorted and hashed."""
    df = con.sql(sql).df()
    cols = sorted(df.columns)
    rows = sorted("|".join(r) for r in df[cols].astype(str).values.tolist())
    return json.dumps([cols, len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()])


def oracle_gate(run_dir, data_dir):
    """Compares each board row's result with the DuckDB oracle; returns the
    rows that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{run_dir}/duckdb_tmp'")
    digest = hashlib.sha256()
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        digest.update(open(p, "rb").read())
    cache_dir = os.path.join(HERE, ".oracle_cache")
    os.makedirs(cache_dir, exist_ok=True)
    cache_file = os.path.join(cache_dir, digest.hexdigest()[:32] + ".json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    bad = []
    for row, sql in sorted(oracle.items()):
        key = row + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]
        if key not in cache:
            try:
                cache[key] = fingerprint(con, sql)
            except Exception as e:  # an oracle that cannot run is not cached
                bad.append(f"{row}: oracle error {str(e)[:200]}")
                continue
        out = os.path.join(run_dir, "results", row)
        try:
            got = fingerprint(con, f"SELECT * FROM '{out}/*.parquet'")
        except Exception as e:
            bad.append(f"{row}: no readable result ({str(e)[:200]})")
            continue
        if got != cache[key]:
            bad.append(f"{row}: result differs from the oracle")
    tmp = cache_file + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_file)
    return bad


def java_cmd(classes, run_dir, main, args):
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a JVM crash report lands next to the run directory, which is removed
    crashes = os.path.join(os.path.dirname(run_dir), "crashes")
    os.makedirs(crashes, exist_ok=True)
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             f"-XX:ErrorFile={crashes}/hs_err_pid%p.log", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + opens +
            ["-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*", main] + args)


def run_jvm(cmd, run_dir):
    """Runs the JVM, returns (exit status, peak RSS in MB)."""
    with open(os.path.join(run_dir, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log)
        deadline = time.time() + JVM_TIMEOUT_S
        try:
            while True:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    p.returncode = os.waitstatus_to_exitcode(status)
                    return p.returncode, usage.ru_maxrss / 1024.0
                if time.time() > deadline:
                    p.kill()
                    _, status, usage = os.wait4(p.pid, 0)
                    return -9, usage.ru_maxrss / 1024.0
                time.sleep(0.05)
        except BaseException:
            # interrupted or terminated: take the JVM down with this process
            p.kill()
            p.wait()
            raise


def host_steal():
    """Returns (steal, all) CPU time of the host from /proc/stat, in ticks.
    Steal is the time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def log_tail(run_dir, n=40):
    try:
        lines = open(os.path.join(run_dir, "jvm.log"), errors="replace").read().splitlines()
        return "\n".join(lines[-n:])
    except OSError:
        return ""


def main():
    # SIGTERM unwinds like SystemExit, so the JVM and run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        die("run from the repository root: src/main/scala not found")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    spec = json.load(open("BENCHMARK.json"))
    listed = [w["name"] for w in spec["workloads"]]
    if not a.self_check and a.workload not in listed + sorted(BUS_E2E):
        die(f"--workload must be one of {', '.join(listed + sorted(BUS_E2E))}")
    board = not a.self_check and a.workload.startswith("board_")
    target = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")
    t_build = time.time()
    classes = build(target)
    print(f"benchmark: build {time.time() - t_build:.1f} s", file=sys.stderr)

    name = "selfcheck" if a.self_check else a.workload
    run_dir = os.path.abspath(os.path.join(target, f"run-{name}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        if a.self_check:
            code, _ = run_jvm(java_cmd(classes, run_dir, "graftbench.SelfCheck", [run_dir]), run_dir)
            print(log_tail(run_dir, 60))
            sys.exit(0 if code == 0 else 1)

        t0_ms = int(time.time() * 1000)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir,
                "--out", os.path.join(run_dir, "result.json"), "--t0-ms", str(t0_ms)]
        data_dir = os.path.join(run_dir, "data")
        if board:
            cpu0 = time.process_time()
            gen_board.generate(data_dir, BOARD_DATA["seed"], BOARD_DATA["docs"],
                               BOARD_DATA["events"], BOARD_DATA["lineitem"])
            args += ["--data", data_dir, "--launch-cpu-s", str(time.process_time() - cpu0)]
        steal0 = host_steal()
        code, rss_mb = run_jvm(java_cmd(classes, run_dir, "graftbench.Main", args), run_dir)
        steal = [b - a for a, b in zip(steal0, host_steal())]
        res_path = os.path.join(run_dir, "result.json")
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
            for line in fh:
                if line.startswith("[") and "] " in line:
                    print(line.rstrip(), file=sys.stderr)
        if code != 0 or not os.path.exists(res_path):
            # the program took the JVM down, or it hung: a failed run
            print(log_tail(run_dir), file=sys.stderr)
            res = {"crashed": True, "attempted": 1, "failed": 1, "metrics": {},
                   "errors": [f"workload JVM exited with {code} and no result"]}
        else:
            res = json.load(open(res_path))
        errors = list(res["errors"])
        failed = int(res["failed"])
        attempted = int(res["attempted"])
        if board and not res["crashed"]:
            bad = oracle_gate(run_dir, data_dir)
            failed += len(bad)
            errors += bad
        got = {k: v for k, v in res["metrics"].items() if v["value"] is not None}
        got["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        got["host.steal_share"] = {"value": steal[0] / max(steal[1], 1), "unit": "ratio"}
        if a.workload in listed:
            wanted = [(m["name"], m["unit"]) for m in spec["per_layer" if a.trace else "end_to_end"]]
            missing = [k for k, _ in wanted if k not in got]
        else:
            wanted = [(k, v["unit"]) for k, v in got.items()]
            missing = [k for k in BUS_E2E[a.workload] if k not in got]
        if missing:
            errors.append("unmeasured: " + ",".join(missing))
        metrics = {k: {"value": got[k]["value"], "unit": u} for k, u in wanted if k in got}
        correct = not res["crashed"] and failed == 0 and not missing
        for e in errors:
            print(f"benchmark: {a.workload}: {e}", file=sys.stderr)
        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            keep = os.path.join(target, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-seed{a.seed}.jsonl"))
        print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
