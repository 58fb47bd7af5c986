#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM, outputs checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout.  The script

  1. compiles graft's main sources plus the harness in perfbench/src with
     the Scala compiler that ships in the project's Spark jar directory
     (once per source tree, into .bench_build/classes);
  2. generates the workload's inputs from the seed (perfbench/gen.py,
     cached per seed and scale under .bench_build/data);
  3. runs graft.perfbench.Harness in a fresh JVM on local[<cores>]: one
     client thread, closed loop, set-up then timed passes;
  4. checks every output against its DuckDB oracle (perfbench/oracle.py);
  5. prints diagnostics, then one JSON line with the metrics of
     BENCHMARK.json: the end-to-end ones with --trace 0, the per-layer ones
     with --trace 1.

It exits 1 when an operation failed or an output mismatched its oracle,
and 2 when it cannot run at all (not a graft checkout, build failed).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

# sf: scale factor of the generated star schema; etl: also write the ETL
# source files; pass_s: nominal seconds of one timed pass on a 4-core host.
# A run makes max(1, round(seconds / pass_s)) passes, so the amount of work
# per run depends only on --seconds, never on how fast this commit is.
WORKLOADS = {
    "iterative_mix": {"sf": 0.01, "etl": False, "pass_s": 9.0},
    "etl_star_load": {"sf": 0.02, "etl": True, "pass_s": 9.0},
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "ok_ratio": "ratio",
    "peak_live_heap_mb": "MB", "storage_amp": "ratio",
}

# per-layer metric -> (unit, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "setup_s on every workload"),
    "training.s": ("s", "setup_s on iterative_mix"),
    "training.jobs": ("count", "setup_s on iterative_mix"),
    "training.basket_pairs_s": ("s", "setup_s on iterative_mix"),
    "training.graph_edges_s": ("s", "setup_s on iterative_mix"),
    "training.graph_seed_bfs_s": ("s", "setup_s on iterative_mix"),
    "tables.open_s": ("s", "wall_s on iterative_mix"),
    "tables.open_jobs": ("count", "wall_s on iterative_mix"),
    "build.s": ("s", "wall_s on iterative_mix"),
    "build.jobs": ("count", "wall_s on iterative_mix"),
    "build.share": ("ratio", "wall_s on iterative_mix"),
    "plan.s": ("s", "wall_s on iterative_mix"),
    "exec.s": ("s", "wall_s on both workloads"),
    "exec.jobs": ("count", "wall_s on iterative_mix"),
    "exec.stages": ("count", "wall_s on iterative_mix"),
    "exec.tasks": ("count", "wall_s on iterative_mix"),
    "exec.task_cpu_s": ("s", "wall_s on etl_star_load"),
    "exec.core_busy_frac": ("ratio", "wall_s on etl_star_load"),
    "exec.gc_s": ("s", "wall_s and peak_live_heap_mb on etl_star_load"),
    "exec.shuffle_write_bytes": ("bytes", "wall_s on etl_star_load"),
    "exec.spill_bytes": ("bytes", "wall_s and peak_live_heap_mb on etl_star_load"),
    "exec.peak_exec_mem_mb": ("MB", "peak_live_heap_mb on etl_star_load"),
    "sources.read_s": ("s", "wall_s on etl_star_load"),
    "sources.rows": ("count", "wall_s on etl_star_load"),
    "sinks.write_s": ("s", "wall_s on etl_star_load"),
    "sinks.bytes_written": ("bytes", "storage_amp on etl_star_load"),
    "sinks.files_written": ("count", "wall_s and storage_amp on etl_star_load"),
    "sinks.upsert_s": ("s", "wall_s on etl_star_load"),
    "sinks.pruned_read_s": ("s", "wall_s on etl_star_load"),
    "sinks.files_read_frac": ("ratio", "wall_s on etl_star_load"),
    "host.calib_s": ("s", "nothing: a diagnostic of host contention"),
    "trace.overhead_s": ("s", "nothing: traced minus untraced pass wall time"),
}

# JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_FLAGS = ["-Xmx4g", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 140


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars in {jars}")
    return jars


def build(jars):
    """Compile graft + the harness unless this exact source tree is built."""
    sources = sorted(list((ROOT / "src/main/scala").rglob("*.scala"))
                     + list((HERE / "src").rglob("*.scala")))
    key = hashlib.sha256()
    for f in sources:
        key.update(str(f.relative_to(ROOT)).encode())
        key.update(f.read_bytes())
    key = key.hexdigest()
    classes = BUILD / "classes"
    stamp = classes / ".source-key"
    if stamp.exists() and stamp.read_text() == key:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={BUILD}",
         "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
        + [str(s) for s in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    (tmp / ".source-key").write_text(key)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    print(f"built {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def inputs(cfg, seed):
    import gen
    data = BUILD / "data"
    tag = f"sf{cfg['sf']}_seed{seed}" + ("_etl" if cfg["etl"] else "")
    path = data / tag
    if not path.exists():
        # keep the cache small: the newest few input sets only
        data.mkdir(parents=True, exist_ok=True)
        old = sorted(data.iterdir(), key=lambda p: p.stat().st_mtime)
        for p in old[:-5]:
            shutil.rmtree(p, ignore_errors=True)
    return path, gen.generate(cfg["sf"], seed, str(path), cfg["etl"])


def run_jvm(jars, classes, workload, data, out, passes, cores, trace):
    cmd = (["java", *JVM_FLAGS, f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Harness",
              "--workload", workload, "--data", str(data), "--out", str(out),
              "--passes", str(passes), "--cores", str(cores)]
           + (["--trace"] if trace else []))
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not (out / "harness.json").exists():
        tail = (out / "jvm.log").read_text()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness JVM ended with {code}", code=1)
    return json.loads((out / "harness.json").read_text())


def tail_percentile(values):
    """The highest percentile with at least ten samples beyond it: the
    value ranked n-11 in ascending order, or the maximum when n < 11."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "src/main/scala/graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"{ROOT} is not a graft checkout (no src/main/scala/graft, build.sbt)")
    cfg = WORKLOADS[a.workload]
    jars = spark_jars()
    classes = build(jars)
    data, manifest = inputs(cfg, a.seed)
    out = BUILD / "run" / a.workload
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    passes = max(1, round(a.seconds / cfg["pass_s"]))
    h = run_jvm(jars, classes, a.workload, data, out, passes, cores, a.trace == 1)

    checks = __import__("oracle").check(a.workload, str(data), str(out), h["oracle_sql"],
                                        str(BUILD / "duckdb-tmp"))
    lat = [x for v in h["op_latency_s"].values() for x in v]
    failures = dict(h["failures"])
    for name, problem in checks.items():
        if problem:
            failures[f"oracle:{name}"] = problem
    # timing hygiene: a timed repetition that launches more jobs than the
    # leanest repetition of the same operation had training or lazy set-up
    # leak into it (the warm-up, repetition 0, is set-up and may absorb them).
    # AQE's runtime re-planning moves a few operators by a job or two
    # between identical repetitions (graph_betweenness: 88-90 jobs over
    # five repetitions of one input), so a timed repetition may exceed the
    # leanest by max(2, 5%) jobs; a leaked training build adds 10 or more.
    for op, jobs in h["op_jobs"].items():
        base = min(jobs)
        if max(jobs[1:], default=base) > base + max(2, -(-base // 20)):
            failures[f"jobs:{op}"] = f"timed repetition launched extra jobs: {jobs}"
    attempted = max(1, len(lat) + sum(1 for k in failures if k.startswith("training:")))
    failed = min(attempted, len(failures))
    tail, pct = tail_percentile(lat) if lat else (0.0, 0.0)

    print(f"workload {a.workload} seed {a.seed} sf {cfg['sf']} cores {cores} "
          f"passes {passes} input_bytes {manifest['input_bytes']}")
    print(f"host.calib_s before/after pass: {h['calib_s'][0]:.4f} / {h['calib_s'][1]:.4f}")
    # a run has 3 or 6 operation samples: their median is one or two
    # operations' single latency and no percentile has ten samples beyond
    # it, so both are diagnostics here, not bounded metrics
    print(f"op_p50_s {statistics.median(lat) if lat else 0.0:.4f}, op_tail_s {tail:.4f}: "
          f"p{pct:.1f} of {len(lat)} operation samples")
    for op in h["ops"]:
        v = h["op_latency_s"].get(op, [])
        print(f"  {op:28s} jobs (warm-up, timed) {h['op_jobs'].get(op)}  "
              f"latency_s {[round(x, 4) for x in v]}")
    for k, v in failures.items():
        print(f"FAILED {k}: {v}")

    if a.trace:
        layers = h["layers"]
        layers["session.start_s"] = h["session_start_s"]
        layers["training.jobs"] = h["training_jobs"]
        layers["training.s"] = float(sum(h["training_s"].values()))
        for name in PER_LAYER:
            if name.startswith("training.") and name.endswith("_s") and name != "training.s":
                layers[name] = h["training_s"].get(name[len("training."):-2], 0.0)
        layers["host.calib_s"] = max(h["calib_s"])
        print(f"spans: {out / 'trace_spans.json'}")
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        values = {
            "setup_s": h["setup_s"],
            # a typical pass: each operation at its median over the passes
            "wall_s": sum(statistics.median(v) for v in h["op_latency_s"].values()),
            "ok_ratio": 1.0 - failed / attempted,
            "peak_live_heap_mb": max(h["live_heap_mb"]),
            "storage_amp": h["sink_bytes"] / manifest["input_bytes"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
