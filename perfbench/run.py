#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload archive --seed 1 --seconds 30 --trace 0

Builds the library and the harness with sbt when their sources changed,
then starts the harness with plain `java` on the build's classpath. The
harness sets a Spark session up three times, runs whole rounds of the
workload's operations (perfbench/workloads.json) in a closed loop from
one client thread, and checks every output against
perfbench/expected.json.

`--trace 0` prints the end-to-end metrics. `--trace 1` makes an untraced
and a traced run with the same seed and prints the per-layer metrics of
the traced one, with the tracing overhead. The last line of standard
output is the result as one JSON object.

The testdata directory is $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
DEADLINE_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(BENCH / name) as fh:
        return json.load(fh)


def data_dir():
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR", "~/testdata/sf0.1")).expanduser()
    if not (d / "lineitem.parquet").exists():
        fail(f"no testdata at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def build_inputs():
    """Every file whose change needs a rebuild, with size and mtime."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        st = p.stat()
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt if needed; return the runtime classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    key = build_inputs()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == key:
        return cp_file.read_text().strip()
    log = WORK / "build.log"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # the build resolves nothing remotely
    repos = Path("~/.sbt/repositories").expanduser()
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=850)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(key)
    return lines[-1]


def harness(classpath, workload, ops, seed, seconds, trace, cpus, data, out,
            mode="run", deadline=None):
    """Run one harness process; return its result object."""
    run_dir = WORK / "run"
    if run_dir.exists():
        subprocess.run(["rm", "-rf", str(run_dir)], check=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness",
            "--workload", workload, "--ops", ",".join(ops), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--data", str(data), "--work", str(run_dir),
            "--out", str(out), "--mode", mode]
    if out.exists():
        out.unlink()
    log = WORK / f"harness-{workload}-{'trace' if trace else 'plain'}.log"
    timeout = None if deadline is None else max(1.0, deadline - time.monotonic())
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} run exceeded its time, see {log}")
    if rc != 0 or not out.exists():
        fail(f"{workload} harness exited with {rc}, see {log}")
    return json.loads(out.read_text())


def verdicts(res, expected):
    """Per operation: None when its output is correct, else the reason."""
    out = []
    for op in res["ops"]:
        if "error" in op:
            out.append(op["error"])
            continue
        if res["workload"] == "archive":
            exp = expected["archive"].get(op["name"])
            if exp is None:
                out.append("no expected value")
            elif op["staging_left"] != 0:
                out.append(f"{op['staging_left']} staging directories left")
            elif op["group_active"]:
                out.append("job group or job still active")
            elif any(op.get(k) != v for k, v in exp.items()):
                out.append(f"got {[op.get(k) for k in exp]}, expected {list(exp.values())}")
            else:
                out.append(None)
        else:
            exp = expected["queries"].get(op["name"])
            if exp is None:
                out.append("no expected value")
            elif op["rows"] != exp["rows"] or (exp["hash"] is not None and op["hash"] != exp["hash"]):
                out.append(f"fingerprint {op['rows']}:{op['hash']}, expected {exp['rows']}:{exp['hash']}")
            else:
                out.append(None)
    return out


def tail(lat):
    """Latency at the highest percentile with at least 10 samples beyond
    it: (value, percentile, samples beyond). Below 21 samples no
    percentile above the median has 10 beyond it, and the slowest
    operation is given, as p100."""
    s = sorted(lat)
    k = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def end_to_end(res, expected, bad):
    lat = [op["latency_s"] for op in res["ops"]]
    wall = statistics.median(res["rounds_s"])
    if res["workload"] == "archive":
        rows = expected["archive_source_rows"] * len(res["ops"])
    else:
        rows = sum(op.get("rows", 0) for op in res["ops"])
    t, pct, beyond = tail(lat)
    gated = {
        "setup_s": (statistics.median(res["setups_s"]), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / sum(res["rounds_s"]), "1/s"),
        "ok_ratio": (1.0 - bad / len(lat), "ratio"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }
    # per-operation latencies are printed and saved, not gated: a run
    # holds 6 to 20 operations of different kinds, and their run-to-run
    # spread reaches 0.25, the largest bound a gated metric may have
    printed = {"op_p50_s": (statistics.median(lat), "s"), "op_tail_s": (t, "s")}
    return gated, printed, f"op_tail_s is p{pct:.1f} of {len(lat)} operations, {beyond} beyond it"


def saved_walls(workload):
    """wall_s of the untraced runs of a workload saved in this checkout."""
    out = []
    for f in sorted((WORK / "results").glob(f"{workload}-trace0-seed*.json")):
        out.append(json.loads(f.read_text())["result"]["metrics"]["wall_s"]["value"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    spec = load("workloads.json")
    bench = load("../BENCHMARK.json")
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
    ops = spec["workloads"][a.workload]["ops"]
    expected = load("expected.json")
    data = data_dir()
    classpath = build()
    deadline = max(deadline, time.monotonic() + 150)  # a first run also builds
    cpus = len(os.sched_getaffinity(0))

    def one(trace):
        res = harness(classpath, a.workload, ops, a.seed, a.seconds, trace, cpus,
                      data, WORK / f"result-{a.workload}-{trace}.json", deadline=deadline)
        return res, verdicts(res, expected)

    runs = [one(bool(a.trace))]
    if a.trace:
        # tracing overhead: against the untraced runs of this workload
        # this checkout has made, else against a companion run
        walls = saved_walls(a.workload)
        if not walls:
            runs.insert(0, one(False))
            walls = [statistics.median(runs[0][0]["rounds_s"])]
    attempted = sum(len(v) for _, v in runs)
    failed = sum(x is not None for _, v in runs for x in v)
    for res, v in runs:
        for op, why in zip(res["ops"], v):
            if why is not None:
                print(f"FAILED {op['name']}: {why}")

    res, v = runs[-1]
    e2e, printed, note = end_to_end(res, expected, sum(x is not None for x in v))
    print(f"workload {a.workload}: seed {a.seed}, local[{cpus}], "
          f"{len(res['rounds_s'])} round(s) of {len(ops)} operations, {note}")
    print("set-ups " + ", ".join(f"{x:.2f}" for x in res["setups_s"]) +
          f" s (the first from JVM start), preparation {res['preparation_s']:.2f} s")
    print(f"fail_ratio {failed / attempted:.4f} ({failed} of {attempted} operations)")
    if not a.trace:
        for k, (val, unit) in printed.items():
            print(f"  {k:28s} {val:.6g} {unit} (printed, not gated)")
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.overhead_s"] = layers["trace.wall_s"] - statistics.median(walls)
        print(f"tracing overhead {layers['trace.overhead_s']:.3f} s: traced wall_s "
              f"{layers['trace.wall_s']:.3f} s against the median of {len(walls)} untraced run(s)")
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    saved = WORK / "results" / f"{a.workload}-trace{a.trace}-seed{a.seed}.json"
    saved.parent.mkdir(parents=True, exist_ok=True)
    saved.write_text(json.dumps({
        "workload": a.workload, "trace": a.trace, "seed": a.seed, "result": result,
        "printed": {} if a.trace else {k: {"value": val, "unit": u} for k, (val, u) in printed.items()},
    }) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
