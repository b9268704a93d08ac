#!/usr/bin/env python3
"""Benchmark for the graft engine.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from --seed,
runs one JVM (perfbench/src/main/scala/perfbench/Main.scala), checks the
outputs, and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Side files (run.json, jvm.log, and when traced spans.jsonl and
queries.jsonl) stay in perfbench/out/<workload>-seed<n>-trace<t>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

WORKLOADS = ("pipeline", "dialect")
SCALE = 0.01        # TPC-H scale factor of the generated star schema
CATALOG_ROWS = 200  # rows per dialect table (table4 has a quarter)
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 780
E2E = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "latency_p50_ms": "ms",
       "latency_tail_ms": "ms", "heap_peak_mb": "MB"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala; run from a full checkout")
    digest = source_digest()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), digest


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """Aggregate (busy, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Steal time as a share of busy plus steal time between two
    cpu_times() readings: how much CPU the hypervisor gave to other guests.
    """
    if not before or not after:
        return None
    busy, steal = after[0] - before[0], after[1] - before[1]
    return round(steal / max(1, busy + steal), 3)


def run_jvm(cp, args, work, out_dir, timeout):
    java_tmp = os.path.join(work, "java-tmp")
    os.makedirs(java_tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={java_tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM did not finish in {timeout} s; see {os.path.relpath(log_path, ROOT)}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        fail(f"JVM exited {rc}; see {os.path.relpath(log_path, ROOT)}")
    errors = sum(1 for line in open(log_path, errors="replace") if " ERROR " in line)
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, src_digest = build()
    import check  # reads tools/selfcheck.py, which only a full checkout has
    cores = min(4, os.cpu_count() or 1)
    out_dir = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        data = os.path.join(work, "data")
        check_dir = os.path.join(work, "check")
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cores": cores, "out": out_dir, "check": check_dir,
                "tmp": os.path.join(work, "spark"), "data": data}
        t0 = time.time()
        if a.workload == "dialect":
            schema = gen_data.catalog(data, a.seed, CATALOG_ROWS)
        else:
            gen_data.star(data, a.seed, SCALE)
        gen_s = time.time() - t0
        cpu0 = cpu_times()
        errors = run_jvm(cp, args, work, out_dir, JVM_TIMEOUT_S)
        cpu1 = cpu_times()
        run = json.load(open(os.path.join(out_dir, "run.json")))

        if a.workload == "dialect":
            mismatches, n_checked = check.dialect(data, check_dir, schema)
        else:
            ran = [n for n in run["checked"] if n not in run["failures"]]
            mismatches = check.oracle(data, check_dir, ran, run["oracle"])
            n_checked = len(run["checked"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = dict(run["failures"])
    failures.update(mismatches)
    attempted = run["executed"] + n_checked
    failed = len(run["failures"]) + len(mismatches)
    stamp = {"nproc": os.cpu_count(), "master": f"local[{cores}]", "jdk": run["jdk"],
             "spark": run["spark"], "data": f"generated star schema, scale {SCALE}"
             if a.workload != "dialect" else f"generated integer catalog, {CATALOG_ROWS} rows",
             "seed": a.seed, "git_sha": git_sha(), "source_sha256": src_digest[:16],
             "traced": bool(a.trace), "error_log_events": errors, "datagen_s": round(gen_s, 3),
             "cpu_steal_share": steal_share(cpu0, cpu1)}
    report = {"stamp": stamp, "failed_frac": failed / attempted, "failures": failures,
              "end_to_end": run["end_to_end"], "per_layer": run["per_layer"],
              "passes": run["passes"], "latency_n": run["latency_n"],
              "latency_tail_pct": run["latency_tail_pct"], "queries": run["queries"]}
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(f"workload {a.workload}: {len(run['queries'])} query kinds, {run['passes']} timed passes "
          f"({run['traced_passes']} traced) in {run['window_s']:.1f} s")
    print(f"set-up: cold {run['setup_runs_s'][0]:.3f} s (JVM start to the end of the first), "
          f"median of {len(run['setup_runs_s'])} {run['end_to_end']['setup_s']:.3f} s")
    print(f"check: {n_checked} outputs checked, {len(mismatches)} mismatches, "
          f"{len(run['failures'])} errors; failed_frac {failed / attempted:.4f} "
          f"({failed}/{attempted})")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    for k, unit in E2E.items():
        extra = (f" (p{run['latency_tail_pct']} of n={run['latency_n']})"
                 if k == "latency_tail_ms" else "")
        print(f"  {k} = {run['end_to_end'][k]:.4f} {unit}{extra}")
    if a.trace:
        for k in sorted(run["per_layer"]):
            print(f"  {k} = {run['per_layer'][k]:.4f}")
    metrics = ({k: {"value": v, "unit": layer_unit(k)} for k, v in run["per_layer"].items()}
               if a.trace else
               {k: {"value": run["end_to_end"][k], "unit": u} for k, u in E2E.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_bytes", "bytes"), ("_share", "ratio"),
                         ("_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "ms" if name.endswith(".ms") else "count"


if __name__ == "__main__":
    main()
