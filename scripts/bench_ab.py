#!/usr/bin/env python
"""Same-boot A/B bench of this checkout against a baseline ref.

Registry mode (``bench.py``, both orders):

    python scripts/bench_ab.py BASELINE_REF

The round-9 finding this automates (PERF.md "same-boot A/B"): on a
shared host, a single-direction comparison mislabels ±30-50% drift as
regression — `sim_lsh_bucket_topk` "regressed" in r7 AND r8 with zero
code changes on its path. Running the two builds back-to-back on one
boot in BOTH orders and taking the per-query geomean of the two ratios
cancels order/warmth effects; only both-directions signals are real.
Runs 4 benches (~25-40 min at sf0.1): HEAD, ref, ref, HEAD. Prints a
markdown ratio table; queries with geomean > 1.25 are flagged REAL.
The baseline is exported with ``git archive`` into ``--scratch`` and
kept there, as in perfbench mode; nothing in the working tree is
touched.

Perfbench mode (``BENCHMARK.json``, interleaved pairs):

    python scripts/bench_ab.py BASELINE_REF --workload api_polygon_chain --pairs 10

exports BASELINE_REF with ``git archive`` into ``--scratch`` (kept, with
its own ``.bench_build/``, for the next call), then runs
``perfbench/run.py`` for ``BENCHMARK.json``'s ``run_seconds`` in the
ref's tree and in this checkout's working tree, one process at a time, in
pairs of alternating order (ref first in even pairs), each pair on one
seed. Seeds start after the last one recorded in the scratch ledger
(``--seed0`` overrides), so runs are not repeated on seeds seen before.
It prints every run with its host load and CPU steal, then per
end-to-end metric the medians and quartiles of both sides, the pairs the
change wins, and two verdicts: ``gain`` when at least 10 pairs ran, the
change is better in at least 9 of 10 pairs and its median beats the
ref's by more than the ref's IQR, and ``REGRESSION`` when its median is
worse than the ref's by more than the metric's bound. Exits 1 on a
regression or a failed run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(*args: str, cwd: str | None = None) -> str:
    return subprocess.run(
        args, cwd=cwd or REPO, check=True, capture_output=True, text=True
    ).stdout


def run_bench(tree: str) -> dict:
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        cwd=tree, env=env, check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def refuse_if_contended() -> None:
    """Arbitration runs exist to settle drift-vs-trend questions; running
    one on a loaded host produces exactly the corrupted numbers it is
    meant to adjudicate (BENCH_r12's 46 s artifact). Refuse when the
    1-minute loadavg exceeds 25% of the cores or another java/python
    heavyweight is live. Override: SPARK_GRAFT_AB_FORCE=1."""
    if os.environ.get("SPARK_GRAFT_AB_FORCE") == "1":
        return
    sys.path.insert(0, REPO)
    from bench import host_telemetry

    tele = host_telemetry()
    la1 = (tele.get("loadavg") or [0.0])[0]
    cpus = tele.get("cpus") or 1
    if la1 > 0.25 * cpus or tele.get("competing_jvm_py", 0) > 0:
        raise SystemExit(
            f"[ab] REFUSING arbitration: host contended ({tele}); wait for "
            "a quiet machine or set SPARK_GRAFT_AB_FORCE=1"
        )


def export(ref: str, scratch: str) -> str:
    """``git archive`` of ``ref`` under ``scratch``, kept between calls."""
    sha = sh("git", "rev-parse", "--verify", f"{ref}^{{commit}}").strip()
    tree = os.path.join(scratch, sha[:12])
    if not os.path.isdir(tree):
        part = tree + ".part"
        os.makedirs(part, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", part], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"[ab] git archive {sha} failed")
        os.rename(part, tree)
    return tree


def registry_ab(ref: str, scratch: str) -> int:
    refuse_if_contended()
    tree = export(ref, scratch)
    print(f"[ab] baseline {ref} in {tree}; 4 bench runs follow", flush=True)
    runs = {}
    for tag, t in (("head_a", REPO), ("ref_a", tree),
                   ("ref_b", tree), ("head_b", REPO)):
        runs[tag] = run_bench(t)
        print(f"[ab] {tag}: headline {runs[tag]['value']}s "
              f"ext {runs[tag].get('value_ext')}s", flush=True)

    print("\n| query | ratio A | ratio B | geomean | verdict |")
    print("|---|---|---|---|---|")
    for grp in ("queries", "queries_ext"):
        ha, ra = runs["head_a"].get(grp, {}), runs["ref_a"].get(grp, {})
        hb, rb = runs["head_b"].get(grp, {}), runs["ref_b"].get(grp, {})
        for k in ha:
            if k in ra and k in hb and k in rb:
                r1, r2 = ha[k] / ra[k], hb[k] / rb[k]
                g = math.sqrt(r1 * r2)
                verdict = ("**REAL**" if g > 1.25 else
                           "improved" if g < 0.8 else "noise")
                print(f"| {k} | {r1:.2f} | {r2:.2f} | {g:.2f} | {verdict} |")
    for key in ("value", "value_ext"):
        try:
            g = math.sqrt(
                (runs["head_a"][key] / runs["ref_a"][key])
                * (runs["head_b"][key] / runs["ref_b"][key])
            )
            print(f"\n{key} geomean: {g:.3f}")
        except KeyError:
            pass
    return 0


# -- perfbench mode ------------------------------------------------------------

# a gain needs at least MIN_GAIN_PAIRS pairs, the change winning
# GAIN_SHARE of them (9 of 10)
MIN_GAIN_PAIRS = 10
GAIN_SHARE = 0.9
FIRST_SEED = 1000


def ensure_build(tree: str) -> None:
    """Build a tree's benchmark inputs before its first timed run."""
    probe = "from perfbench import lake; raise SystemExit(lake.build_record() is None)"
    if subprocess.run([sys.executable, "-c", probe], cwd=tree).returncode:
        print(f"[ab] building the inputs of {tree}", flush=True)
        subprocess.run([sys.executable, "perfbench/run.py", "--build"], cwd=tree,
                       check=True, capture_output=True)


def perfbench_run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench process: its result line and its host telemetry."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, check=True, capture_output=True, text=True,
    ).stdout
    lines = [line for line in out.splitlines() if line.startswith("{")]
    result = json.loads(lines[-1])
    host = json.loads(lines[-2])["provenance"]["host"]
    return {"result": result, "host": host,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def quartiles(xs: list[float]) -> tuple[float, ...]:
    """(q1, median, q3); a lone value is all three."""
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


def perfbench_ab(args) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    specs, seconds = declared["end_to_end"], declared["run_seconds"]
    os.makedirs(args.scratch, exist_ok=True)
    ledger_path = os.path.join(args.scratch, "seeds.json")
    ledger = []
    if os.path.exists(ledger_path):
        with open(ledger_path) as fh:
            ledger = json.load(fh)
    seed0 = args.seed0 if args.seed0 is not None else max(ledger, default=FIRST_SEED - 1) + 1
    trees = {"ref": export(args.ref, args.scratch), "change": REPO}
    for tree in trees.values():
        ensure_build(tree)
    print(f"[ab] ref {args.ref} in {trees['ref']}; change = this working tree; "
          f"{args.workload}, {args.pairs} pairs, seeds {seed0}-{seed0 + args.pairs - 1}")

    names = [m["name"] for m in specs]
    print("\n| pair | side | seed | correct | failed | " + " | ".join(names)
          + " | load1 | cpu steal |")
    print("|" + "---|" * (len(names) + 7))
    runs: dict[str, list[dict]] = {"ref": [], "change": []}
    for i in range(args.pairs):
        seed = seed0 + i
        for side in ("ref", "change") if i % 2 == 0 else ("change", "ref"):
            run = perfbench_run(trees[side], args.workload, seed, seconds)
            runs[side].append(run)
            res, host = run["result"], run["host"]
            print(f"| {i} | {side} | {seed} | {res['correct']} | {res['failed']} | "
                  + " | ".join(f"{run['metrics'][n]:.4g}" for n in names)
                  + f" | {(host.get('loadavg') or ['?'])[0]} "
                  + f"| {host.get('cpu_steal_share', 0):.1%} |", flush=True)
        ledger.append(seed)
        with open(ledger_path, "w") as fh:
            json.dump(sorted(set(ledger)), fh)

    need = math.ceil(GAIN_SHARE * args.pairs)
    print(f"\n| metric | ref median [q1, q3] | change median [q1, q3] | change/ref "
          f"| pairs change won | verdict (gain: ≥ {need}/{args.pairs} and > ref IQR) |")
    print("|---|---|---|---|---|---|")
    bad = any(not r["result"]["correct"] for side in runs.values() for r in side)
    for m in specs:
        name, lower = m["name"], m["better"] == "lower"
        ref = [r["metrics"][name] for r in runs["ref"]]
        new = [r["metrics"][name] for r in runs["change"]]
        (r1, rm, r3), (c1, cm, c3) = quartiles(ref), quartiles(new)
        won = sum((b < a) if lower else (b > a) for a, b in zip(ref, new))
        gain = (args.pairs >= MIN_GAIN_PAIRS and won >= need
                and (rm - cm if lower else cm - rm) > r3 - r1)
        worse = cm > rm * (1 + m["bound"]) if lower else cm < rm * (1 - m["bound"])
        verdict = "gain" if gain else "REGRESSION" if worse else f"within the {m['bound']} bound"
        bad |= worse
        print(f"| {name} | {rm:.4g} [{r1:.4g}, {r3:.4g}] | {cm:.4g} [{c1:.4g}, {c3:.4g}] "
              f"| {cm / rm:.3f} | {won}/{args.pairs} | {verdict} |")
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", help="the baseline commit, usually the parent of the change")
    ap.add_argument("--workload", help="a BENCHMARK.json workload: perfbench mode")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, help="the first pair's seed")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "bench_ab"),
                    help="where the ref's export and the seed ledger are kept")
    args = ap.parse_args(argv)
    if args.workload is None:
        return registry_ab(args.ref, args.scratch)
    return perfbench_ab(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
