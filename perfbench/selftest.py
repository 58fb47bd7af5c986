#!/usr/bin/env python3
"""The benchmark's own self-test.

    python3 perfbench/selftest.py          # about three minutes on 4 cores

Pins, in order:
  1. BENCHMARK.json names exactly the metrics and units run.py reports,
     and only workloads run.py knows;
  2. the oracle comparison notices a changed value, a missing or
     duplicated row and a renamed column;
  3. the timed action materialises the whole result: the plan executed
     for q1_pricing_summary keeps its final Sort and reads a non-empty
     column set (a `.count()` would prune both);
  4. a real run of the cheapest kept workload, untraced and traced, prints
     as its last line exactly the metric names of BENCHMARK.json.
Exits 1 on the first failed pin.
"""
import json
import shutil
import subprocess
import sys

import run
import oracle


def pin(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    pin(e2e == run.END_TO_END, "end_to_end metrics and units match run.END_TO_END")
    pin(layers == {k: u for k, (u, _) in run.PER_LAYER.items()},
        "per_layer metrics and units match run.PER_LAYER")
    names = [w["name"] for w in spec["workloads"]]
    pin(set(names) <= set(run.WORKLOADS), f"workloads {names} are defined in run.py")

    con = oracle.connect(tmp_dir=str(run.BUILD / "duckdb-tmp"))
    want = "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5)) t(k, s, x)"
    pin(oracle.compare(con, want, want) is None, "oracle: equal relations match")
    pin(oracle.compare(con, "SELECT x, s, k FROM (" + want + ")", want) is None,
        "oracle: column order is ignored")
    for label, got in [
            ("changed value", "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.6)) t(k, s, x)"),
            ("missing row", "SELECT * FROM (VALUES (1, 'a', 1.5)) t(k, s, x)"),
            ("renamed column", "SELECT * FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5)) t(k, s, y)"),
            ("duplicated row", "SELECT * FROM (VALUES (1, 'a', 1.5), (1, 'a', 1.5)) t(k, s, x)")]:
        pin(oracle.compare(con, got, want) is not None, f"oracle: a {label} is a mismatch")

    jars = run.spark_jars()
    classes = run.build(jars)
    data, _ = run.inputs({"sf": 0.01, "etl": False}, 0)
    out = run.BUILD / "selftest"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    (out / "tmp").mkdir()
    cmd = (["java", *run.JVM_FLAGS, f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Harness", "--selftest",
              "--data", str(data), "--out", str(out), "--cores", "2"])
    with open(out / "jvm.log", "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out, timeout=300)
    res = json.loads((out / "selftest.json").read_text())
    pin(res["final_sort"], "q1_pricing_summary: the executed plan keeps its final Sort")
    pin(bool(res["read_schemas"]) and all(res["read_schemas"]),
        f"q1_pricing_summary: every scan reads columns {res['read_schemas']}")

    workload = min(names, key=lambda w: run.WORKLOADS[w]["pass_s"])
    for trace, expect in [(0, e2e), (1, layers)]:
        p = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", workload,
                            "--seed", "0", "--seconds", "1", "--trace", str(trace)],
                           cwd=run.ROOT, capture_output=True, text=True, timeout=400)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        pin(p.returncode == 0 and last["correct"], f"{workload} --trace {trace} runs correct")
        pin(set(last) == {"correct", "attempted", "failed", "metrics"},
            f"{workload} --trace {trace}: result keys")
        got = {k: v["unit"] for k, v in last["metrics"].items()}
        pin(got == expect, f"{workload} --trace {trace}: printed metrics match BENCHMARK.json")
    print("selftest passed")


if __name__ == "__main__":
    main()
