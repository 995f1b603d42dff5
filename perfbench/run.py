#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py --workload delivery|analytics \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from the checkout's sources (cached
by a source hash under perfbench/target), generates the fixed analytics
tables once (perfbench/work/data), runs the workload in one JVM on
local[<cores>], checks its outputs and prints, as the last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Run sizes are fixed counts, so `--seconds` does not change them.
A traced delivery run adds a second JVM for the single-core drain; a
traced analytics run adds the live-index scenario.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import time
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CDS = os.path.join(TARGET, "graft.jsa")
# Every JVM of a run must end within this many seconds of the build
# check, so that a traced delivery run with two JVMs still ends within
# 180 s.
RUN_TIMEOUT = 170
SBT_TIMEOUT = 850
# Set-ups per measuring JVM (setup_s is their median); a JVM that a
# traced run adds for its per-layer metrics sets up once.
SETUPS = 7
ADD_OPENS = [
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


def source_hash():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found at {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt; return the runtime classpath."""
    stamp = source_hash()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx3g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=SBT_TIMEOUT)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith(os.path.join(TARGET, "scala-2.13", ""))]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1]
    # Class-data-sharing archive of what a session set-up loads: it halves
    # JVM start-up. Made once per build; a run without it only starts slower.
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(WORK, "cds")
    os.makedirs(work, exist_ok=True)
    try:
        subprocess.run(jvm_cmd(cp, [f"-XX:ArchiveClassesAtExit={CDS}"], "none", 0, 1, 0,
                               cores(), work, os.path.join(work, "result.json"), work),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        if os.path.exists(CDS):
            os.remove(CDS)
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(cp, flags, workload, seed, setups, trace, ncores, work, out, data):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
                  "--setups", str(setups), "--trace", str(trace), "--cores", str(ncores),
                  "--work", work, "--out", out, "--data", data]


def run_jvm(cp, workload, seed, setups, trace, ncores, work, data, deadline):
    out = os.path.join(work, "result.json")
    flags = [f"-XX:SharedArchiveFile={CDS}", "-Xshare:auto"] if os.path.exists(CDS) else []
    cmd = jvm_cmd(cp, flags, workload, seed, setups, trace, ncores, work, out, data)
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        text, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{workload} did not end within {RUN_TIMEOUT} s of the run's start")
    for ln in text.splitlines():
        if ln.startswith("["):
            print(ln)
    print(f"[run] jvm total {time.time() - t0:.1f} s")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(text[-4000:])
        fail(f"{workload} JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def check_analytics(res, work, data):
    """Each key's dumped result against its DuckDB oracle SQL over the
    same tables, compared as tools/check_oracle.py compares them: columns
    by name, rows in emitted order, values canonicalized (doubles by
    repr)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import frame
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        con.sql(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    checks = {}
    for key, oracle in res["oracles"].items():
        dump = os.path.join(work, "results", key)
        try:
            if not oracle:
                raise ValueError("key has no oracle SQL")
            got_cols, _, got = frame(con.sql(f"SELECT * FROM '{dump}/*.parquet'"))
            want_cols, _, want = frame(con.sql(oracle))
            ok = (got_cols, got) == (want_cols, want)
            checks[f"analytics.{key}"] = {
                "ok": ok, "detail": "ok" if ok else
                f"oracle mismatch ({len(got)} rows, oracle {len(want)})"}
        except Exception as e:  # a broken dump or oracle is a failed check
            checks[f"analytics.{key}"] = {"ok": False, "detail": f"{type(e).__name__}: {e}"}
    return checks


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = benchmark_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    t0 = time.time()
    cp = build()
    print(f"[run] build check {time.time() - t0:.1f} s")
    deadline = time.time() + RUN_TIMEOUT
    data = os.path.join(WORK, "data")
    if args.workload == "analytics":
        import gen_tables
        gen_tables.ensure(data)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ncores = cores()
    try:
        res = run_jvm(cp, args.workload, args.seed, SETUPS, args.trace, ncores, work, data,
                      deadline)
        checks = dict(res["checks"])
        if args.workload == "analytics":
            checks.update(check_analytics(res, work, data))
        layers = dict(res["layers"])
        attempted, failed, errors = int(res["attempted"]), int(res["failed"]), list(res["errors"])
        if args.trace and args.workload == "delivery":
            # The single-core baseline: its checks and counts join the run's.
            base = run_jvm(cp, "drain_only", args.seed, 1, 0, 1,
                           os.path.join(work, "1core"), data, deadline)
            checks.update({f"1core.{k}": v for k, v in base["checks"].items()})
            attempted += int(base["attempted"])
            failed += int(base["failed"])
            errors.extend(f"1core: {e}" for e in base["errors"])
            layers["sources.delivery_rps_1core"] = base["layers"]["delivery.delivery_rps"]
            layers["failed_share"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        for f in glob.glob(os.path.join(work, "trace", "*.jsonl")):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(f, os.path.join(WORK, "traces"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, c in checks.items():
        if not c["ok"]:
            print(f"[check] {name} FAILED {c['detail']}")
    print(f"[checks] {sum(c['ok'] for c in checks.values())}/{len(checks)} passed")
    for e in errors:
        print(f"[error] {e}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else res["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if not args.trace:
                fail(f"{args.workload} did not measure {m['name']}")
            v = {"value": 0.0}  # a layer this workload does not exercise
        if v["value"] is None:
            fail(f"{args.workload} measured no value for {m['name']}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for name, v in (res["metrics"] if args.trace else layers).items():
        print(f"[metric] {name} = {v['value']} {v['unit']}")
    # An operation that threw is counted in `failed`; `correct` covers
    # the outputs that were produced.
    correct = bool(checks) and all(c["ok"] for c in checks.values())
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    # The imported helpers (gen_tables, tools/check_oracle.py) leave no
    # bytecode caches in the checkout.
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
