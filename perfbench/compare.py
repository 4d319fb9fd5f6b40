#!/usr/bin/env python3
"""Parent-vs-change comparison for the perfbench benchmark.

Run alternating pairs (the side that goes first alternates per pair):

    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \\
        --workload ingest_write --pairs 10 --out pairs.json [--trace]

Report medians and quartiles per side, the share of pairs each side won,
the gain rule, the bound check and, for traced pairs, the per-layer
self-time difference:

    python3 perfbench/compare.py report pairs.json [more.json ...]

Rules (choosing-metrics guide, section 8): a gain is claimed only when the
change wins at least nine tenths of all pairs (ties count for neither) and
the medians differ by more than the parent's own quartile spread. A metric
regresses when the change median is worse than the parent median by more
than the bound in BENCHMARK.json; when the parent's spread exceeds the
bound the metric is "unresolved" unless every change run beats every
parent run. A gain does not count when more operations fail than at the
parent.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_spec(path=BENCH_JSON):
    spec = json.loads(Path(path).read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    return spec, metrics, layers


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "exit": r.returncode}
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    res["exit"] = r.returncode
    return res


def cmd_run(a):
    spec, _, _ = load_spec(Path(a.change) / "BENCHMARK.json")
    seconds = spec["run_seconds"]
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            pair[side] = run_once(checkout, a.workload, seed, seconds, a.trace)
            print(f"pair {i} {side}: correct={pair[side]['correct']} "
                  f"failed={pair[side]['failed']}", file=sys.stderr)
        pairs.append(pair)
    out = {"workload": a.workload, "trace": a.trace, "seconds": seconds,
           "pairs": pairs}
    Path(a.out).write_text(json.dumps(out, indent=1))
    return 0


def values(pairs, side, metric):
    return [p[side]["metrics"][metric]["value"] for p in pairs
            if metric in p[side].get("metrics", {})]


def wins(pairs, metric, better):
    """(change wins, parent wins, ties) over pairs that have the metric on
    both sides."""
    c = p_ = t = 0
    for p in pairs:
        try:
            pv = p["parent"]["metrics"][metric]["value"]
            cv = p["change"]["metrics"][metric]["value"]
        except KeyError:
            continue
        if pv == cv:
            t += 1
        elif (cv < pv) == (better == "lower"):
            c += 1
        else:
            p_ += 1
    return c, p_, t


def failures(pairs, side):
    attempted = sum(int(p[side].get("attempted", 0)) for p in pairs)
    failed = sum(int(p[side].get("failed", 0)) for p in pairs)
    return attempted, failed


def verdict(parent_vals, change_vals, better, bound, n_pairs, change_wins,
            more_failures):
    """One of: gain, regression, unresolved, no-regression; for a metric
    without a bound (per-layer), worse or no-regression."""
    q1, pmed, q3 = stats.quartiles(parent_vals)
    _, cmed, _ = stats.quartiles(change_vals)
    sign = 1.0 if better == "lower" else -1.0
    worse_by = sign * (cmed - pmed) / pmed if pmed else 0.0
    spread = stats.spread(parent_vals)
    if sign * (pmed - cmed) > (q3 - q1) and change_wins >= 0.9 * n_pairs \
            and not more_failures:
        return "gain"
    if bound is None:
        return "no-regression" if worse_by <= 0 else "worse"
    all_better = all(sign * (pv - cv) > 0
                     for pv in parent_vals for cv in change_vals)
    if spread > bound and not all_better:
        return "unresolved"
    if worse_by > bound:
        return "regression"
    return "no-regression"


def report(doc, spec_metrics, spec_layers):
    pairs = doc["pairs"]
    n = len(pairs)
    print(f"workload {doc['workload']} ({'traced' if doc.get('trace') else 'untraced'}), "
          f"{n} pairs, run_seconds {doc.get('seconds')}")
    pa, pf = failures(pairs, "parent")
    ca, cf = failures(pairs, "change")
    more_failures = cf > pf
    print(f"  ops parent {pf}/{pa} failed, change {cf}/{ca} failed")
    specs = spec_layers if doc.get("trace") else spec_metrics
    rows = []
    for name, m in specs.items():
        pv, cv = values(pairs, "parent", name), values(pairs, "change", name)
        if not pv or not cv:
            continue
        better = m.get("better", "lower")
        cw, pw, ties = wins(pairs, name, better)
        v = verdict(pv, cv, better, m.get("bound"), n, cw, more_failures)
        pq, cq = stats.quartiles(pv), stats.quartiles(cv)
        rows.append((name, m["unit"], pq, cq, cw, pw, ties, v))
    width = max([len(r[0]) for r in rows] + [6])
    print(f"  {'metric':<{width}} unit   parent q1/med/q3          "
          f"change q1/med/q3          won(c/p/tie)  verdict")
    for name, unit, pq, cq, cw, pw, ties, v in rows:
        fmt = "/".join(f"{x:.4g}" for x in pq)
        fmc = "/".join(f"{x:.4g}" for x in cq)
        print(f"  {name:<{width}} {unit:<6} {fmt:<25} {fmc:<25} "
              f"{cw}/{pw}/{ties:<8} {v}")
    if doc.get("trace"):
        print("  per-layer self time per op (change - parent, medians):")
        for name, unit, pq, cq, *_ in rows:
            if name.startswith("self."):
                print(f"    {name:<{width}} {cq[1] - pq[1]:+.3f} {unit}")
    return rows


def cmd_report(a):
    _, metrics, layers = load_spec()
    for path in a.files:
        report(json.loads(Path(path).read_text()), metrics, layers)
    return 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000)
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("files", nargs="+")
    a = ap.parse_args()
    return cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    sys.exit(main())
