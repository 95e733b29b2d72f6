#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the repository root.

    python3 perfbench/selftest.py smoke
        One short run of every workload, untraced and traced: each must be
        correct and emit exactly the metrics BENCHMARK.json names, with
        their units.

    python3 perfbench/selftest.py steady [--runs 10] [--workload W ...]
        Two sets of --runs runs per workload (set 1 on seeds 1..N, set 2 on
        seeds N+1..2N) at BENCHMARK.json's run_seconds. The sets alternate
        run by run, so a slow stretch of the host falls on both. For every
        end-to-end metric it reports each set's median and quartile spread
        (Q3 - Q1, as a share of the median) and the shift of set 2's median
        against set 1's. It fails when set 2's median is worse than set 1's
        by more than the metric's bound, or when a spread exceeds the bound.
        The spread of setup_s is reported but not gated: the benchmark's
        acceptance rule checks setup_s by its median shift only, because
        set-up time follows how busy the host is at the moment of start-up
        and the median over many runs, not the spread, is what a change to
        set-up moves. Runs are appended to .perfbench/steady.jsonl.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, seconds, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1200)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {res.returncode}")
    return json.loads(lines[-1])


def smoke(_args):
    ok = True
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w["name"], 1, 2, trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"correct={out['correct']} failed={out['failed']}")
            if got != want:
                problems.append(f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"smoke {w['name']} trace={trace}: {'ok' if not problems else problems}")
            ok &= not problems
    sys.exit(0 if ok else 1)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def steady(args):
    names = args.workload or [w["name"] for w in SPEC["workloads"]]
    log = ROOT / ".perfbench" / "steady.jsonl"
    log.parent.mkdir(exist_ok=True)
    ok = True
    for w in names:
        sets = ([], [])
        for i in range(args.runs):
            for s, rows in enumerate(sets):
                seed = 1 + s * args.runs + i
                out = run(w, seed, SPEC["run_seconds"], 0)
                rows.append(out)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, **out}) + "\n")
                print(f"{w} seed {seed}: " + ", ".join(
                    f"{k} {v['value']:.4g}" for k, v in out["metrics"].items())
                    + ("" if out["correct"] else "  INCORRECT"), flush=True)
                ok &= out["correct"]
        for m in SPEC["end_to_end"]:
            a, b = ([r["metrics"][m["name"]]["value"] for r in rows] for rows in sets)
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb = spread(a), spread(b)
            bad = worse > m["bound"] or (m["name"] != "setup_s" and max(sa, sb) > m["bound"])
            ok &= not bad
            print(f"{w:10s} {m['name']:16s} median {ma:10.4g} / {mb:10.4g}  "
                  f"spread {sa:6.3f} / {sb:6.3f}  worse {worse:+.3f}  "
                  f"bound {m['bound']}  {'FAIL' if bad else 'ok'}"
                  f"{'  (spread above bound/3)' if max(sa, sb) > m['bound'] / 3 else ''}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("smoke").set_defaults(fn=smoke)
    st = sub.add_parser("steady")
    st.add_argument("--runs", type=int, default=10)
    st.add_argument("--workload", action="append")
    st.set_defaults(fn=steady)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
