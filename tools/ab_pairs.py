"""Interleaved A/B pairs of perfbench runs between two source checkouts.

    python3 tools/ab_pairs.py run --parent DIR --change DIR \\
        --workload light_corpus --seeds 101-110 --out ab.jsonl
    python3 tools/ab_pairs.py summary ab.jsonl [--claim decode_gbps]

``run`` runs ``python3 perfbench/run.py --workload W --seed N --seconds 1
--trace 0`` once in each checkout per seed, one seed after another; even
pairs run the parent first, odd pairs the change first. Each run appends
one JSON line to ``--out`` (pair, seed, side, whether it ran first, wall,
exit code and the run's raw result line), so an interrupted series keeps
what it finished.

``summary`` prints, per end-to-end metric of ``BENCHMARK.json``, each
side's median and quartiles, the change's median against the parent's,
the parent's quartile distance, and how many pairs the change won. It
flags a side whose quartile distance exceeds the metric's bound times the
parent's median: runs that spread that widely cannot tell the two sides
apart. With ``--claim``, it also says whether that metric meets the claim
rule: the change wins at least 9 of every 10 pairs (ties count for neither)
and the medians differ by more than the parent's quartile distance.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run_one(tree: Path, workload: str, seed: int) -> tuple[int, float, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, wall, result


def run(args) -> None:
    trees = {"parent": Path(args.parent).resolve(), "change": Path(args.change).resolve()}
    with open(args.out, "a") as out:
        for pair, seed in enumerate(_seeds(args.seeds)):
            order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
            for k, side in enumerate(order):
                code, wall, result = _run_one(trees[side], args.workload, seed)
                rec = {"workload": args.workload, "pair": pair, "seed": seed, "side": side,
                       "first": k == 0, "exit": code, "wall_s": wall, "result": result}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                m = (result or {}).get("metrics", {})
                shown = " ".join(f"{k}={m[k]['value']:.5g}" for k in ("encode_gbps", "decode_gbps")
                                 if k in m)
                print(f"pair {pair} seed {seed} {side:6s} exit {code} {shown}", flush=True)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(args) -> None:
    recs = [json.loads(line) for line in Path(args.file).read_text().splitlines() if line.strip()]
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    for workload in sorted({r["workload"] for r in recs}):
        rows = [r for r in recs if r["workload"] == workload]
        pairs: dict[int, dict] = {}
        for r in rows:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = {p: v for p, v in pairs.items() if v.get("parent") and v.get("change")}
        failed = {s: sum(v[s]["failed"] for v in full.values()) for s in ("parent", "change")}
        print(f"{workload}: {len(full)} pairs, failed ops parent {failed['parent']} "
              f"change {failed['change']}")
        for spec in bench["end_to_end"]:
            name, higher = spec["name"], spec["better"] == "higher"
            a = [v["parent"]["metrics"][name]["value"] for v in full.values()]
            b = [v["change"]["metrics"][name]["value"] for v in full.values()]
            if len(a) < 2:
                continue
            qa, qb = _quartiles(a), _quartiles(b)
            wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
            gain = qb[1] / qa[1] - 1 if qa[1] else 0.0
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            worse = -gain if higher else gain
            print(f"  {name:14s} parent {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]  "
                  f"change {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}]  "
                  f"median {gain:+.1%}  parent IQR/median {spread:.3f}  "
                  f"wins {wins}/{len(a)}  bound {spec['bound']} "
                  f"{'WORSE BEYOND BOUND' if worse > spec['bound'] else 'within bound'}")
            limit = spec["bound"] * qa[1]
            for side, q in (("parent", qa), ("change", qb)):
                if q[2] - q[0] > limit:
                    print(f"  {name}: {side} spread {q[2] - q[0]:.5g} exceeds "
                          f"{spec['bound']} x parent median = {limit:.5g}")
            if name == args.claim:
                diff = abs(qb[1] - qa[1])
                ok = wins * 10 >= 9 * len(a) and diff > qa[2] - qa[0] and (
                    qb[1] > qa[1] if higher else qb[1] < qa[1])
                print(f"  claim {name}: {'MET' if ok else 'NOT MET'} "
                      f"(|median diff| {diff:.5g} vs parent IQR {qa[2] - qa[0]:.5g})")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="N or N-M, inclusive")
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("file")
    s.add_argument("--claim", default=None)
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        summary(args)


if __name__ == "__main__":
    main()
