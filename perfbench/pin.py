#!/usr/bin/env python3
"""Re-pins the statement lists the workloads run, from the library's own
oracle inventory (`SparkEntry.oracleSql`):

- workloads/report.json: the six CUR template texts (t1-t6);
- workloads/explore.json: every inventory text that `Engine.sql` accepts as
  a single statement, whose first page matches DuckDB on the benchmark
  folder, and whose page takes at most CAP_S seconds on a cold pass.

Run from the root of a checkout: python3 perfbench/pin.py
Pinning keeps a workload fixed while the inventory changes; re-pin only
on purpose, and record it.
"""
import json
import shutil
import sys

import run
import checks
import datagen
import layers
import workloads

CAP_S = 2.0


def main():
    classpath = run.build()
    inv_dir = run.BUILD / "pin"
    shutil.rmtree(inv_dir, ignore_errors=True)
    inv_dir.mkdir(parents=True)
    inv = inv_dir / "inventory.json"
    java = ["java", "-cp", classpath, "perfbench.Main", "inventory", str(inv)]
    run.subprocess.run(java, check=True, stdout=sys.stderr)
    oracle = json.loads(inv.read_text())

    wl = workloads.WORKLOADS["explore"]
    data_dir = run.data_dir(wl.sf)
    datagen.generate(str(data_dir), wl.sf)
    con = checks.connect(data_dir)
    report = []
    for name in sorted(oracle):
        if name[:2] in {"t1", "t2", "t3", "t4", "t5", "t6"} and name[2] == "_":
            cols = con.execute(oracle[name]).description
            report.append({"name": name, "sql": oracle[name], "ncols": len(cols)})
    (run.HERE / "workloads" / "report.json").write_text(json.dumps(report, indent=1) + "\n")

    names = sorted(oracle)
    spec = workloads.base_spec([], [workloads.page(n, oracle[n]) for n in names], 1)
    spec.update(setups=1, max_steps=len(names), seconds=3600.0, trace=False,
                cpus=run.cpus(), data_dir=str(data_dir), run_dir=str(inv_dir))
    result = run.run_jvm(classpath, spec, inv_dir, timeout=3000)
    keep, dropped = [], {}
    for rec in result["steps"]:
        name = rec["id"]
        if not rec["ok"]:
            dropped[name] = "engine: " + rec["error"][:160]
            continue
        latency = layers.page_latencies([rec])[0]
        try:
            diff = checks.page_diff(rec["page"], checks.expected_page(con, oracle[name]))
        except Exception as e:  # noqa: BLE001 - DuckDB refusing the text
            diff = f"duckdb: {e}"[:160]
        if diff:
            dropped[name] = "mismatch: " + diff[:160]
        elif latency > CAP_S:
            dropped[name] = f"slow: {latency:.2f}s"
        else:
            keep.append({"name": name, "sql": oracle[name], "cold_page_s": round(latency, 3)})
    out = run.HERE / "workloads" / "explore.json"
    out.write_text(json.dumps(keep, indent=1) + "\n")
    for name, why in sorted(dropped.items()):
        print(f"dropped {name}: {why}")
    print(f"kept {len(keep)} of {len(names)} inventory texts -> {out}")


if __name__ == "__main__":
    main()
