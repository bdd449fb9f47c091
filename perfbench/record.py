#!/usr/bin/env python3
"""Record perfbench/expected.json from the current code.

Usage (from the root of a repository checkout, which has tools/check.py):

    python3 perfbench/record.py

Runs every workload's operations once at two parallelisms (local[4] and
local[2]) in record mode. A query's expected fingerprint is its row
count plus its xxhash64 sum. Where the sum differs between the two
parallelisms, the output depends on partitioning, and only the row
count is checked. For entries with oracle SQL, the recorded result is
compared once with DuckDB through tools/check.py, and recording stops
if any comparison fails. Archive configurations record the committed
object's CRC-32C and size (single object) or the re-read row count
(sharded).

Also checks the registry workload's rules in perfbench/workloads.json:
family quotas and table coverage for its loop-free entries, and
native-expression coverage for its CPU entries.
"""
import json
import subprocess
import sys

import duckdb

import run

PARALLELISMS = (4, 2)


def record(classpath, workload, ops, cpus, data):
    out = run.WORK / f"record-{workload}-{cpus}.json"
    res = run.harness(classpath, workload, ops, 0, 0, True, cpus, data, out, mode="record")
    errors = [op for op in res["ops"] if "error" in op]
    if errors:
        run.fail(f"{workload} at local[{cpus}]: {[(e['name'], e['error']) for e in errors]}")
    return res


def oracle_check(data, res):
    """Compare the record run's dumped results with the DuckDB oracle."""
    dump = run.WORK / "run" / "dump"
    (dump / "oracle_sql.json").write_text(json.dumps(res["oracle"]))
    names = sorted(res["oracle"])
    if not names:
        return []
    r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(data),
                        str(dump), ",".join(names)], capture_output=True, text=True)
    status = {}
    for line in r.stdout.splitlines():
        if line.startswith("[") and "] " in line:
            flag, rest = line[1:].split("] ", 1)
            name, detail = rest.split(": ", 1)
            status[name] = (flag, detail)
    bad = [n for n in names if status.get(n, ("FAIL",))[0] != "PASS"
           or not status[n][1].startswith("OK")]
    if bad:
        run.fail(f"DuckDB oracle disagrees for {bad}: {[status.get(n) for n in bad]}")
    return names


def check_rules(spec, used):
    reg = spec["workloads"]["registry"]
    one = reg["one_pass_entries"]
    fam = {}
    for n in one:
        fam.setdefault(used[n]["module"], []).append(n)
    for m in reg["min_per_module"]:
        if len(fam.get(m, [])) < reg["min_entries_per_module"]:
            run.fail(f"one_pass has too few {m} entries: {fam.get(m, [])}")
    tables = {t for n in one for t in used[n]["tables"]}
    missing = set(spec["tables"]) - tables
    if missing:
        run.fail(f"one_pass reads no {sorted(missing)}")
    natives = {f for n in reg["cpu_entries"] for f in used[n]["natives"]}
    missing = set(reg["natives_required"]) - natives
    if missing:
        run.fail(f"the CPU entries run no {sorted(missing)}")
    return {"one_pass_tables": sorted(tables), "cpu_natives": sorted(natives)}


def main():
    spec = run.load("workloads.json")
    data = run.data_dir()
    classpath = run.build()
    expected = {"queries": {}, "archive": {}, "oracle_checked": [],
                "partition_dependent": []}
    used = {}
    for workload, w in spec["workloads"].items():
        runs = {}
        for cpus in PARALLELISMS:
            runs[cpus] = record(classpath, workload, w["ops"], cpus, data)
            if cpus == PARALLELISMS[0] and workload != "archive":
                expected["oracle_checked"] += oracle_check(data, runs[cpus])
        first, other = (runs[c] for c in PARALLELISMS)
        for a, b in zip(first["ops"], other["ops"]):
            n = a["name"]
            if workload == "archive":
                keys = ["rows"] if "rows" in a else ["crc32c", "bytes"]
                if any(a[k] != b[k] for k in keys):
                    run.fail(f"archive {n} differs between parallelisms")
                expected["archive"][n] = {k: a[k] for k in keys}
                continue
            if a["rows"] != b["rows"]:
                run.fail(f"{n}: {a['rows']} rows at local[{PARALLELISMS[0]}], {b['rows']} at local[{PARALLELISMS[1]}]")
            stable = a["hash"] == b["hash"]
            if not stable:
                expected["partition_dependent"].append(n)
            expected["queries"][n] = {"rows": a["rows"], "hash": a["hash"] if stable else None}
            u = first["used"].get(n, [])
            used[n] = {"module": a["module"],
                       "tables": sorted(x[6:] for x in u if x.startswith("table:")),
                       "natives": sorted(x[3:] for x in u if x.startswith("fn:"))}
    con = duckdb.connect()
    expected["archive_source_rows"] = con.execute(
        f"SELECT count(*) FROM read_parquet('{data}/lineitem.parquet')").fetchone()[0]
    expected["coverage"] = check_rules(spec, used)
    expected["used"] = used
    expected["oracle_checked"].sort()
    expected["partition_dependent"].sort()
    (run.BENCH / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(expected['queries'])} queries ({len(expected['oracle_checked'])} "
          f"checked against DuckDB, {len(expected['partition_dependent'])} partition-dependent) "
          f"and {len(expected['archive'])} archive configurations")


if __name__ == "__main__":
    main()
