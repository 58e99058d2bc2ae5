#!/usr/bin/env python3
"""Run the benchmark's workloads and summarise them.

    python3 perfbench/report.py                  # every workload, untraced + traced
    python3 perfbench/report.py --seeds 10 --workload ep1_pipeline --no-trace

Prints every end-to-end metric by name, with its unit, for
each workload, and with --seeds N > 1 the median and the quartile spread of
each metric over N seeds next to its bound in BENCHMARK.json. Writes
everything, including each traced run's per-layer record and the tracing
overhead (traced wall_s minus untraced wall_s), to perfbench/out/report.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def bench_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    took = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    samples = dict(kv.split("=") for l in lines[:-1] if l.startswith("samples ")
                   for kv in l.split()[1:])
    return {"seed": seed, "trace": trace, "process_s": took, "samples": samples,
            "result": json.loads(lines[-1])}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    spec = bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--seeds", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--no-trace", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    report = {}
    for w in args.workload or names:
        runs = [run_once(spec, w, s, 0)
                for s in range(args.first_seed, args.first_seed + args.seeds)]
        entry = {"runs": runs}
        print(f"== {w}: {len(runs)} untraced run(s), "
              f"process {min(r['process_s'] for r in runs):.1f}-"
              f"{max(r['process_s'] for r in runs):.1f} s, "
              f"failed {sum(r['result']['failed'] for r in runs)}"
              f"/{sum(r['result']['attempted'] for r in runs)}, "
              f"{runs[0]['samples'].get('op', '?')} operations per run")
        for name, m in runs[0]["result"]["metrics"].items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            line = f"  {name:<12} {statistics.median(vals):12.4f} {m['unit']:<3}"
            if len(vals) >= 2:
                med, iqr = spread(vals)
                b = bounds.get(name, {}).get("bound")
                line += f"  spread {iqr:.3f}" + (f" (bound {b}, a third {b / 3:.3f})" if b else "")
            print(line)
        if not args.no_trace:
            traced = run_once(spec, w, args.first_seed, 1)
            entry["traced"] = traced
            walls = [r["result"]["metrics"]["wall_s"]["value"] for r in runs]
            t_wall = traced["result"]["metrics"]["trace.wall_s"]["value"]
            entry["trace_overhead_s"] = t_wall - statistics.median(walls)
            entry["trace_overhead_share"] = entry["trace_overhead_s"] / statistics.median(walls)
            print(f"  traced wall_s {t_wall:.4f} s, overhead {entry['trace_overhead_s']:+.4f} s "
                  f"({100 * entry['trace_overhead_share']:+.1f}%)")
        report[w] = entry
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", "report.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
