#!/usr/bin/env python3
"""Compare two sets of benchmark records and name what moved.

Usage: python3 perfbench/compare.py BASE NEW

BASE and NEW are each a record file written by run.py or a directory of
them (run.py writes to .perfbench/records/).  For every workload present on
both sides it prints each end-to-end metric of BENCHMARK.json: the median
over that side's untraced records, the relative delta, the metric's bound
and a verdict (WORSE when the delta exceeds the bound in the metric's bad
direction).  Under each metric it names the gates behind the delta and, when
both sides have traced records, the layers that moved inside the gate that
moved most.  Last, it lists every per-gate count (jobs, stages, rows, bytes,
triggers) that differs between the two sides' traced records; run on two
record sets of the same code, that is the repeatability check of the
counters.  Exit status 1 when any metric is WORSE.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import LAYER_UNITS, gate_layers  # noqa: E402

TOP = 3


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def gate_samples(recs: list[dict], kind: str) -> dict[str, list[float]]:
    """Gate latencies of the untraced passes of one kind."""
    out: dict[str, list[float]] = {}
    for r in recs:
        for p in r["passes"]:
            if p["kind"] == kind and not p["traced"]:
                for g in p["gates"]:
                    out.setdefault(g["gate"], []).append(g["gate_s"])
    return out


def gate_layer_medians(recs: list[dict], kind: str = "warm") -> dict[str, dict[str, float]]:
    """Median per-layer values of each gate over the traced passes of one kind."""
    samples: dict[str, list[dict]] = {}
    for r in recs:
        for p in r["passes"]:
            if p["kind"] == kind and p["traced"]:
                for g in p["gates"]:
                    samples.setdefault(g["gate"], []).append(gate_layers(g))
    return {
        gate: {k: statistics.median(s[k] for s in ss) for k in ss[0]}
        for gate, ss in samples.items()
    }


def _fmt_delta(a: float, b: float) -> str:
    rel = f"{(b - a) / a:+.1%}" if a else "n/a"
    return f"{a:.4g} -> {b:.4g} ({rel})"


def attribute(metric: str, base: list[dict], new: list[dict]) -> list[str]:
    """Lines naming the gates (and their layers) behind one metric's delta."""
    if metric == "setup_s":
        lines = []
        for part in ("import_s", "start_s", "warmup_s"):
            a = statistics.median(r["session"][part] for r in base)
            b = statistics.median(r["session"][part] for r in new)
            lines.append(f"    session.{part}: {_fmt_delta(a, b)}")
        return lines
    if metric not in ("first_pass_s", "pass_s", "gate_p50_s"):
        return []
    kind = "cold" if metric == "first_pass_s" else "warm"
    sa, sb = gate_samples(base, kind), gate_samples(new, kind)
    moves = sorted(
        ((statistics.median(sb[g]) - statistics.median(sa[g]), g) for g in sa if g in sb),
        key=lambda t: -abs(t[0]),
    )
    lines = [
        f"    gate {g}: {_fmt_delta(statistics.median(sa[g]), statistics.median(sb[g]))}"
        for _, g in moves[:TOP]
    ]
    la, lb = gate_layer_medians(base, kind), gate_layer_medians(new, kind)
    if moves and moves[0][1] in la and moves[0][1] in lb:
        g = moves[0][1]
        layer_moves = sorted(
            (
                (abs(lb[g][k] - la[g][k]), k)
                for k in la[g]
                if LAYER_UNITS.get(k) == "s" and lb[g][k] != la[g][k]
            ),
            reverse=True,
        )
        lines += [
            f"      layer {k}: {_fmt_delta(la[g][k], lb[g][k])}" for _, k in layer_moves[:TOP]
        ]
    return lines


def count_changes(base: list[dict], new: list[dict]) -> list[str]:
    la, lb = gate_layer_medians(base), gate_layer_medians(new)
    out = []
    for g in sorted(set(la) & set(lb)):
        for k in la[g]:
            if LAYER_UNITS.get(k) in ("count", "B") and la[g][k] != lb[g][k]:
                out.append(f"  {g} {k}: {_fmt_delta(la[g][k], lb[g][k])}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(argv[0]), load(argv[1])
    worse = False
    for w in [w["name"] for w in spec["workloads"]]:
        a_all = [r for r in base if r["workload"] == w]
        b_all = [r for r in new if r["workload"] == w]
        a = [r for r in a_all if not r["trace"]]
        b = [r for r in b_all if not r["trace"]]
        if not a_all or not b_all:
            continue
        print(f"== {w}  (untraced records: {len(a)} base, {len(b)} new)")
        for m in spec["end_to_end"] if a and b else []:
            va = statistics.median(r["metrics"][m["name"]]["value"] for r in a)
            vb = statistics.median(r["metrics"][m["name"]]["value"] for r in b)
            rel = (vb - va) / va
            bad = rel if m["better"] == "lower" else -rel
            verdict = "WORSE" if bad > m["bound"] else ("better" if bad < -m["bound"] else "ok")
            worse |= verdict == "WORSE"
            print(
                f"  {m['name']:14s} {va:10.4g} -> {vb:10.4g} {m['unit']:4s} "
                f"{rel:+7.1%}  bound {m['bound']:.0%}  {verdict}"
            )
            for line in attribute(m["name"], a_all, b_all):
                print(line)
        if any(r["trace"] for r in a_all) and any(r["trace"] for r in b_all):
            changed = count_changes(a_all, b_all)
            print(f"  per-gate counts of the traced records: {len(changed)} differ")
            for line in changed:
                print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
