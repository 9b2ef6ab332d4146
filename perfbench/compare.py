#!/usr/bin/env python3
"""Run sets of benchmark runs and compare two sets.

    python3 perfbench/compare.py collect OUT --seeds 1-10 [--workload W ...]
        [--trace 0|1]
    python3 perfbench/compare.py diff SET_A SET_B

`collect` runs `perfbench/run.py` once per seed and workload (default:
every workload of BENCHMARK.json) and appends each run's result line to
`OUT/<workload>.jsonl`. `diff` prints, for every metric × workload, each
set's median and quartile spread (interquartile range ÷ median), and
whether the sets agree: both spreads within the metric's bound and the
second median not worse than the first by more than the bound
(`setup_s` is exempt from the spread test). It exits 1 when any pair
disagrees.
"""
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(out, seed_list, workloads, trace):
    os.makedirs(out, exist_ok=True)
    for w in workloads:
        for s in seed_list:
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(s), "--trace", str(trace)],
                cwd=REPO, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: run failed (exit {p.returncode})", file=sys.stderr)
                continue
            with open(os.path.join(out, f"{w}.jsonl"), "a") as fh:
                fh.write(lines[-1] + "\n")
            r = json.loads(lines[-1])
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)


def load(set_dir):
    runs = {}
    for name in sorted(os.listdir(set_dir)):
        if name.endswith(".jsonl"):
            with open(os.path.join(set_dir, name)) as fh:
                runs[name[:-6]] = [json.loads(ln) for ln in fh if ln.strip()]
    return runs


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def diff(a_dir, b_dir):
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    a, b = load(a_dir), load(b_dir)
    ok = True
    print(f"{'workload':10} {'metric':16} {'unit':6} {'median A':>11} {'spread A':>9} "
          f"{'median B':>11} {'spread B':>9} {'bound':>6}  agree")
    for w in sorted(set(a) & set(b)):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["metrics"][name]["value"] for r in a[w] if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in b[w] if name in r["metrics"]]
            if len(va) < 2 or len(vb) < 2:
                continue
            ma, sa = spread(va)
            mb, sb = spread(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            agree = worse <= bound and (name == "setup_s" or (sa <= bound and sb <= bound))
            ok &= agree
            print(f"{w:10} {name:16} {m['unit']:6} {ma:11.4f} {sa:9.3f} "
                  f"{mb:11.4f} {sb:9.3f} {bound:6.2f}  {'yes' if agree else 'NO'}")
        fa = sum(r["failed"] for r in a[w]) + sum(r["failed"] for r in b[w])
        print(f"{w:10} failed ops across both sets: {fa}")
    return 0 if ok else 1


def main():
    args = sys.argv[1:]
    if len(args) >= 2 and args[0] == "collect":
        out, rest = args[1], args[2:]
        opts = {"--seeds": "1-10", "--trace": "0"}
        workloads = []
        while rest:
            k, v = rest[0], rest[1]
            rest = rest[2:]
            if k == "--workload":
                workloads.append(v)
            else:
                opts[k] = v
        if not workloads:
            with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
                workloads = [w["name"] for w in json.load(fh)["workloads"]]
        collect(out, seeds(opts["--seeds"]), workloads, int(opts["--trace"]))
        return 0
    if len(args) == 3 and args[0] == "diff":
        return diff(args[1], args[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
