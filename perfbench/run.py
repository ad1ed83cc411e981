#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
harness from source (sbt), generates the input fixtures and publishes the
inventory stages; all of it lands under .bench_build/perfbench and is
reused while the sources are unchanged. Each run then starts one JVM
(two with --trace 1: an untraced one, then a traced one, so that the
tracing overhead is measured), prints every metric with its unit, and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
its per-layer metrics. Full run records are kept under
.bench_build/perfbench/results for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 175
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "fail_share": "1", "live_heap_mb": "MB", "peak_rss_mb": "MB", "written_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha1()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(ROOT, top)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_logged(cmd, cwd, timeout, what):
    """Run `cmd`, keeping its stderr in .bench_build/perfbench/logs/<what>.log."""
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    log_path = os.path.join(STATE, "logs", f"{what}.log")
    t0 = time.time()
    with open(log_path, "w") as err:
        proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                              text=True, timeout=timeout)
    if proc.returncode != 0:
        errors = [ln for ln in proc.stdout.splitlines() if ln.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40]) + "\n" + open(log_path).read()[-4000:])
        raise SystemExit(f"{what} failed with exit code {proc.returncode}")
    return proc, time.time() - t0


def build():
    """Compile the engine and the harness; reuse the last build when no
    source changed. Returns the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt)")
    proc, secs = run_logged(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        os.path.join(ROOT, "perfbench"), 540, "build")
    cp = proc.stdout.strip().splitlines()[-1]
    log(f"built in {secs:.1f} s")
    os.makedirs(STATE, exist_ok=True)
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def java(cp, args, timeout, what):
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # a fixed heap, so that collections and timings do not follow the
        # collector's resizing of it from run to run
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(STATE, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(STATE, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    return run_logged(cmd, ROOT, timeout, what)


def prepare(cp):
    """Fixtures and published inventory stages, once per build. Their
    generation time is logged here, outside every run. Two JVMs: the
    engine publishes two of the stages under a second definition hash when
    a fresh JVM first resolves them (reported as stages.rebuilt_on_hit);
    the second JVM publishes those, so that no run pays for it."""
    marker = os.path.join(STATE, "prepared.stamp")
    stamp = open(os.path.join(STATE, "build.stamp")).read()
    if os.path.exists(marker) and open(marker).read() == stamp:
        return
    notes = os.path.join(STATE, "prepare.log")
    if os.path.exists(notes):
        os.remove(notes)
    for i in (1, 2):
        _, secs = java(cp, ["prepare", "--state", STATE, "--bench", HERE], 180, f"prepare{i}")
        log(f"prepared fixtures and stages in {secs:.1f} s ({i} of 2; details in "
            f"{os.path.relpath(notes, ROOT)})")
    open(marker, "w").write(stamp)


def one_run(cp, a, trace, deadline):
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    out = os.path.join(STATE, "results",
                       f"{a.workload}-s{a.seed}-t{trace}-{int(time.time() * 1000)}.json")
    java(cp, ["run", "--state", STATE, "--bench", HERE, "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace),
              "--out", out], max(10, deadline - time.time()), f"run-t{trace}")
    return json.load(open(out)), out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    t0 = time.time()

    spec = benchlib.load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; expected one of {names}")
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine sources not found ({need} missing): "
                             "run from the root of a full checkout")

    cp = build()
    prepare(cp)
    deadline = time.time() + DEADLINE_S

    rec, _ = one_run(cp, a, 0, deadline)
    records = [rec]
    m = rec["metrics"]
    if a.trace:
        traced, path = one_run(cp, a, 1, deadline)
        records.append(traced)
        traced["metrics"]["trace.overhead"] = (
            traced["metrics"]["wall_s"] / rec["metrics"]["wall_s"] - 1)
        with open(path, "w") as f:
            json.dump(traced, f)
        m = traced["metrics"]

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        raise SystemExit(f"run did not report {missing}")

    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    if failed:
        for t in range(len(records)):
            for line in open(os.path.join(STATE, "logs", f"run-t{t}.log")):
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
    print(f"# {a.workload} seed={a.seed} cores={rec['cores']} heap_mb={rec['heap_mb']} "
          f"loadavg_start={rec['loadavg_start']:.2f} steal_share={rec['steal_share']:.3f} "
          f"passes={rec['passes']} "
          f"ops={rec['ops']} run_s={time.time() - t0:.1f}")
    e2e = rec["metrics"]
    for name, unit in UNITS.items():
        v = e2e[name]
        if name == "op_p90_s" and rec["ops"] < 100:
            print(f"{a.workload} {name} n/a (n={rec['ops']} < 100 ops)")
        else:
            print(f"{a.workload} {name} {v:.6g} {unit}")
    if a.trace:
        for x in spec["per_layer"]:
            print(f"{a.workload} {x['name']} {m[x['name']]:.6g} {x['unit']}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
