"""Steadiness tool for perfbench.

Repeat workloads over several seeds, one run at a time and the workloads
taking turns, and summarise each end-to-end metric by its median and
quartiles; then compare two such sets against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py run --runs 10 --out .perfbench_work/a.jsonl
    python3 perfbench/steady.py run --workload ingest --runs 5 --first-seed 100 --out b.jsonl
    python3 perfbench/steady.py summary a.jsonl
    python3 perfbench/steady.py compare a.jsonl b.jsonl

The spread of a metric is (q3 - q1) / median over its runs, with the
quartiles of ``statistics.quantiles(values, n=4)``. A set is steady when
every metric's spread is within its bound;
two sets agree when no metric's median in the second is worse than in the
first by more than its bound. Per-op latencies of all runs are pooled to
report ``batch_tail_s``: the highest percentile with at least ten samples
beyond it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")


def load_bench() -> dict:
    with open(BENCH) as fh:
        return json.load(fh)


def run_set(workloads: list[str], runs: int, first_seed: int, out: str) -> None:
    bench = load_bench()
    cmd = bench["command"]
    # Workloads take turns, seed by seed: the host's speed drifts for
    # minutes at a time, and a drift then slows a few runs of each workload
    # rather than most runs of one.
    with open(out, "a") as fh:
        for k in range(runs):
            for w in workloads:
                seed = first_seed + k
                t = time.perf_counter()
                p = subprocess.run(
                    [*cmd, "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    capture_output=True, text=True, timeout=900)
                wall = time.perf_counter() - t
                lines = p.stdout.strip().splitlines()
                lat = next((json.loads(x.split(" ", 1)[1]) for x in lines
                            if x.startswith("latencies_s ")), [])
                steal = next((float(x.split()[1]) for x in lines
                              if x.startswith("host_steal_share ")), None)
                try:
                    result = json.loads(lines[-1])
                except (IndexError, json.JSONDecodeError):
                    result = None
                rec = {"workload": w, "seed": seed, "exit": p.returncode,
                       "wall_s": wall, "result": result, "latencies_s": lat,
                       "steal": steal}
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                      f"steal={steal} correct={result and result['correct']}", flush=True)
                if p.returncode != 0:
                    print(p.stderr[-2000:], file=sys.stderr)


def load(path: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            out.setdefault(rec["workload"], []).append(rec)
    return out


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def tail(lat: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it, with
    its value and the sample count."""
    n = len(lat)
    if n < 11:
        return f"n/a ({n} samples, fewer than 11)"
    k = n - 10
    return f"p{100 * k / n:.1f} = {sorted(lat)[k - 1]:.4f} s over {n} samples"


def summarise(sets: dict[str, list[dict]]) -> dict:
    bench = load_bench()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    out, steady = {}, True
    for w, recs in sets.items():
        ok = [r for r in recs if r["result"]]
        failed = sum(r["result"]["failed"] for r in ok) + len(recs) - len(ok)
        attempted = sum(r["result"]["attempted"] for r in ok)
        steal = [r["steal"] for r in recs if r.get("steal") is not None]
        print(f"\n{w}: {len(recs)} runs, failed_op_share "
              f"{failed / max(attempted, 1):.4f} ({failed}/{attempted}), "
              f"mean run wall {statistics.mean(r['wall_s'] for r in recs):.1f} s, "
              f"batch_tail_s {tail([x for r in ok for x in r['latencies_s']])}")
        if steal:
            print(f"  host steal share over the timed ops: median {statistics.median(steal):.3f}, "
                  f"max {max(steal):.3f}")
        out[w] = {}
        for name, m in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            if not vals:
                continue
            s = stats(vals)
            out[w][name] = s
            within = s["spread"] <= m["bound"]
            steady &= within
            print(f"  {name:14s} median {s['median']:12.4f} {m['unit']:7s} "
                  f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} spread {s['spread']:.3f} "
                  f"(bound {m['bound']}, third {m['bound'] / 3:.3f})"
                  f"{'' if within else '  SPREAD OVER BOUND'}")
    print("\nsteady" if steady else "\nNOT steady")
    return out


def compare(a: dict, b: dict) -> bool:
    bench = load_bench()
    ok = True
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        for w in sorted(set(a) & set(b)):
            if name not in a[w] or name not in b[w]:
                continue
            ma, mb = a[w][name]["median"], b[w][name]["median"]
            worse = (mb - ma) / ma if lower else (ma - mb) / ma
            verdict = "ok" if worse <= bound else "REGRESSION"
            ok &= verdict == "ok"
            print(f"{w:12s} {name:14s} {ma:12.4f} -> {mb:12.4f} "
                  f"worse by {worse:+.3f} (bound {bound}) {verdict}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", action="append",
                   help="repeatable; default every workload in BENCHMARK.json")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("path")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args(argv)
    if a.cmd == "run":
        ws = a.workload or [w["name"] for w in load_bench()["workloads"]]
        run_set(ws, a.runs, a.first_seed, a.out)
        summarise(load(a.out))
        return 0
    if a.cmd == "summary":
        summarise(load(a.path))
        return 0
    print(f"== {a.first}")
    sa = summarise(load(a.first))
    print(f"== {a.second}")
    sb = summarise(load(a.second))
    print()
    return 0 if compare(sa, sb) else 1


if __name__ == "__main__":
    sys.exit(main())
