#!/usr/bin/env python3
"""graft benchmark.

Runs one workload (or `all`) of the graft engine in its own JVM, checks
its outputs, prints every metric by name with its unit, and ends stdout
with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

  python3 perfbench/run.py --workload pyramid --seed 1 --seconds 6 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (a separate, traced run). The first run builds the engine
and the benchmark from source with sbt into .bench_build/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["pyramid", "dedup", "operators"]
DATA = os.path.join(HERE, "data", "tpch")
RUN_LIMIT_S = 170

JVM_OPTS = [
    # a fixed-size heap: no heap resizing during the timed loop
    "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads; None when the engine is absent."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if not all(os.path.isfile(f) for f in files) or not all(os.path.isdir(r) for r in roots):
        return None
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark (once per source state) and
    return the runtime classpath."""
    stamp = source_stamp()
    if stamp is None:
        raise SystemExit("perfbench: engine sources or build files are missing; nothing to run")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's own state and temp files stay in the build directory
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')} -Djava.io.tmpdir={tmp}"
    log("perfbench: building engine and benchmark with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f}s")
    return cp


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where the kernel does not say."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, main, args, deadline, tag):
    """Run one JVM; return the JSON record it prints last, with the share
    of CPU time the hypervisor took away meanwhile (`host_steal_share`)."""
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    err_path = os.path.join(BUILD, "logs", tag + ".log")
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, main] + args
    t0 = cpu_times()
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {tag} did not finish in time (log: {err_path})")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(err_path) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"perfbench: {tag} exited with {proc.returncode}")
    rec = json.loads(lines[-1])
    t1 = cpu_times()
    if t0 and t1 and t1[1] > t0[1]:
        rec["host_steal_share"] = (t1[0] - t0[0]) / (t1[1] - t0[1])
    return rec


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_args(name, a, cpus, trace):
    tag = f"{name}-{a.seed}-{trace}-{cpus}"
    args = ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--cpus", str(cpus), "--scale", str(a.scale),
            "--work", os.path.join(BUILD, "work", tag), "--data", DATA]
    if a.fault:
        args.append("--fault")
    if trace:
        args += ["--spans", os.path.join(BUILD, "traces", f"{name}-seed{a.seed}.jsonl")]
    return args, tag


def run_workload(cp, name, a, deadline):
    try:
        return run_workload_in(cp, name, a, deadline)
    finally:
        # generated inputs and outputs are per run; records and traces stay
        work = os.path.join(BUILD, "work")
        for d in glob.glob(os.path.join(work, f"{name}-{a.seed}-*")):
            shutil.rmtree(d, ignore_errors=True)


def run_workload_in(cp, name, a, deadline):
    cpus = os.cpu_count()
    args, tag = jvm_args(name, a, cpus, a.trace)
    rec = run_jvm(cp, "graft.perfbench.Main", args, deadline, tag)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", tag + ".json"), "w") as f:
        json.dump(rec, f)
    if a.trace and name == "pyramid":
        # scaling: the same input at one core, untraced, in its own JVM
        args1, tag1 = jvm_args(name, a, 1, 0)
        one = run_jvm(cp, "graft.perfbench.Main", args1, deadline, tag1)
        rec["layers"]["scaling.pyramid_eff"] = stats.median(unit_rates(rec)) / (cpus * stats.median(unit_rates(one)))
        rec["correct"] = rec["correct"] and one["correct"]
        rec["failures"] += one["failures"]
        rec["attempted"] += one["attempted"]
        rec["failed"] += one["failed"]
    return rec


def unit_rates(rec):
    """Items per second of every untraced unit (one operation; for
    operators one pass over its queries, so slow queries weigh in)."""
    return [u["items"] / u["s"] for u in rec["units"] if not u["traced"] and u["s"] > 0]


def e2e_metrics(rec):
    return {"items_per_s": stats.median(unit_rates(rec)), "setup_s": rec["setup_s"]}


def named_metrics(rec):
    """The workload's own metric names, for the printed table."""
    ops = [o for o in rec["ops"] if not o["traced"]]
    lm = rec["layer_medians"]
    m = {"op_p50_s": (stats.median([o["s"] for o in ops]), "s")}
    tp = stats.median(unit_rates(rec))
    w = rec["workload"]
    if w == "pyramid":
        m["pyramid_tiles_per_s"] = (tp, "tiles/s")
    elif w == "dedup":
        m["dedup_images_per_s"] = (tp, "images/s")
    elif w == "operators":
        untraced = [u["s"] for u in rec["units"] if not u["traced"]]
        m["operators_s"] = (stats.median(untraced), "s per pass")
    m["setup_s"] = (rec["setup_s"], "s")
    m["peak_live_heap_mb"] = (rec["peak_live_heap_mb"], "MB")
    return m


def print_table(rec, metrics, units, fault):
    w = rec["workload"]
    ops = [o["s"] for o in rec["ops"] if not o["traced"]]
    print(f"== {w} (seed {rec['seed']}, local[{rec['cpus']}], trace {int(rec['trace'])}) "
          f"ops: {stats.describe(ops)} s; attempted {rec['attempted']}, failed {rec['failed']}")
    if "host_steal_share" in rec:
        print(f"   host: {rec['host_steal_share']:.1%} of CPU time stolen by the hypervisor during the run")
    print(f"   set-up: session {rec['session_s']:.2f} s, prepare "
          + ", ".join(f"{x:.2f}" for x in rec["prepare_s"]) + f" s, warm-up {rec['warmup_s']:.2f} s; output check {rec['check_s']:.2f} s")
    if fault:
        clean = rec["clean_failures"]
        print("   clean output check: " + ("passed" if not clean else "FAILED: " + "; ".join(clean)))
    for f in rec["failures"]:
        print(f"   CHECK FAILED: {f}")
    if not rec["trace"]:
        for k, (v, u) in named_metrics(rec).items():
            print(f"   {k:<34} {v:>14.4f} {u}")
        for k, v in sorted(rec["layer_medians"].items()):
            print(f"   {k:<34} {v:>14.4f} (median per op)")
    for k, v in metrics.items():
        print(f"   {k:<34} {v:>14.6g} {units.get(k, '')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed seconds (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests use a tiny one)")
    ap.add_argument("--fault", action="store_true", help="plant one wrong output; the checks must fail")
    a = ap.parse_args()
    bench = declared()
    e2e, per_layer = bench["end_to_end"], bench["per_layer"]
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    cp = build()
    start = time.time()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    limit = RUN_LIMIT_S * len(names)
    spec = per_layer if a.trace else e2e
    units = {m["name"]: m["unit"] for m in spec}
    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        rec = run_workload(cp, name, a, start + limit)
        if a.trace:
            got = dict(rec["layers"], **{"heap.peak_live_mb": rec["peak_live_heap_mb"]})
            metrics = {m["name"]: float(got.get(m["name"], 0.0)) for m in per_layer}
        else:
            metrics = e2e_metrics(rec)
        print_table(rec, metrics, units, a.fault)
        result["correct"] = result["correct"] and rec["correct"]
        result["attempted"] += rec["attempted"]
        result["failed"] += rec["failed"]
        prefix = "" if len(names) == 1 else name + "."
        for k, v in metrics.items():
            result["metrics"][prefix + k] = {"value": v, "unit": units.get(k, "")}
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
