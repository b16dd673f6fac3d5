#!/usr/bin/env python3
"""Run two sets of benchmark runs and summarise them as a baseline.

Each set runs every workload of BENCHMARK.json once for each of ten
seeds (untraced, exactly as `run.py` is invoked by hand), then one traced
run per workload, and records the host before and after the set: core count and
the engine's CPU and memory-bandwidth probes (graft.Bench.cpuProbe and
memProbe, seconds for a fixed amount of work; lower is faster).

    python3 perfbench/sets.py --out perfbench/baseline.json

For every workload and end-to-end metric the summary gives the median,
the quartiles and their distance as a share of the median (the spread),
and how much the second set's median is worse than the first's;
each is compared with the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SETS = 2
SEEDS = 10
FIRST_SEED = 101


def host(cp):
    """nproc plus the CPU and memory probes at every core."""
    rec = run.run_jvm(cp, "graft.perfbench.Host", [str(os.cpu_count())],
                      time.time() + 170, "host")
    rec["time"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    return rec


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    out = json.loads(last) if last.startswith("{") else {}
    out["exit"] = p.returncode
    out["wall_s"] = wall
    tag = f"{workload}-{seed}-{trace}-{os.cpu_count()}"
    rec_path = os.path.join(run.BUILD, "records", tag + ".json")
    if os.path.isfile(rec_path):
        with open(rec_path) as f:
            rec = json.load(f)
        out["layer_medians"] = rec.get("layer_medians", {})
        out["host_steal_share"] = rec.get("host_steal_share")
    print(f"  {workload} seed {seed} trace {trace}: exit {p.returncode}, {wall:.1f}s, correct "
          f"{out.get('correct')}", file=sys.stderr, flush=True)
    return out


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def evaluate(result, e2e):
    """Acceptance: each spread within its bound, and the second set's
    median not worse than the first's by more than the bound."""
    checks = []
    for w in result["sets"][0]["workloads"]:
        for name, m in e2e.items():
            meds = []
            for k, s in enumerate(result["sets"]):
                sm = s["workloads"][w]["metrics"].get(name)
                if sm is None:
                    continue
                meds.append(sm["median"])
                checks.append({"workload": w, "metric": name, "set": k + 1, "kind": "spread",
                               "value": sm["spread"], "bound": m["bound"],
                               "ok": sm["spread"] <= m["bound"]})
            if len(meds) == 2:
                worse = (meds[1] / meds[0] - 1) if m["better"] == "lower" else (meds[0] / meds[1] - 1)
                checks.append({"workload": w, "metric": name, "kind": "second_vs_first",
                               "value": worse, "bound": m["bound"], "ok": worse <= m["bound"]})
    result["checks"] = checks
    result["all_ok"] = all(c["ok"] for c in checks)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", default=os.path.join(run.BUILD, "sets.json"))
    a = ap.parse_args()
    bench = run.declared()
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    cp = run.build()
    result = {"run_seconds": seconds, "sets": []}
    for k in range(SETS):
        print(f"set {k + 1}", file=sys.stderr, flush=True)
        s = {"host_before": host(cp), "workloads": {}}
        seeds = [FIRST_SEED + k * SEEDS + i for i in range(SEEDS)]
        # seed-major order: a slow spell of the host spreads over workloads
        runs = {w: [] for w in workloads}
        for seed in seeds:
            for w in workloads:
                runs[w].append(one_run(w, seed, seconds, 0))
        for w in workloads:
            ok = [r for r in runs[w] if r.get("exit") == 0 and r.get("correct")]
            entry = {"seeds": seeds, "runs": len(runs[w]), "correct_runs": len(ok),
                     "wall_s": [r["wall_s"] for r in runs[w]],
                     "host_steal_share": [r.get("host_steal_share") for r in runs[w]], "metrics": {}}
            for name in e2e:
                vals = [r["metrics"][name]["value"] for r in ok if name in r.get("metrics", {})]
                if len(vals) >= 2:
                    entry["metrics"][name] = summarise(vals)
            decode = [r["layer_medians"].get("media.decode_mb_per_s_per_core")
                      for r in ok if r.get("layer_medians", {}).get("media.decode_mb_per_s_per_core")]
            if decode:
                entry["decode_mb_per_s_per_core"] = statistics.median(decode)
            t = one_run(w, seeds[0], seconds, 1)
            entry["traced"] = {"correct": t.get("correct"), "wall_s": t["wall_s"],
                               "metrics": {n: v["value"] for n, v in t.get("metrics", {}).items()}}
            s["workloads"][w] = entry
        s["host_after"] = host(cp)
        result["sets"].append(s)
    evaluate(result, e2e)
    report(result, a.out)
    return 0 if result["all_ok"] else 1


def report(result, out):
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    for c in result["checks"]:
        print(f"{'ok ' if c['ok'] else 'BAD'} {c['workload']:<10} {c['metric']:<18} "
              f"{c['kind']:<16}{' set ' + str(c['set']) if 'set' in c else '':<7} "
              f"{c['value']:.4f} (bound {c['bound']})")
    print(json.dumps({"all_ok": result["all_ok"], "out": out}))


if __name__ == "__main__":
    sys.exit(main())
