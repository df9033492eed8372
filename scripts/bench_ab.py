#!/usr/bin/env python
"""Same-boot A/B bench: HEAD vs a baseline ref, BOTH orders.

The round-9 finding this automates (PERF.md "same-boot A/B"): on a
shared host, a single-direction comparison mislabels ±30-50% drift as
regression — `sim_lsh_bucket_topk` "regressed" in r7 AND r8 with zero
code changes on its path. Running the two builds back-to-back on one
boot in BOTH orders and taking the per-query geomean of the two ratios
cancels order/warmth effects; only both-directions signals are real.

Usage: python scripts/bench_ab.py BASELINE_REF
       (the commit to compare HEAD against, usually the parent of the
        change under test)

Runs 4 benches (~25-40 min at sf0.1): HEAD, ref, ref, HEAD. Prints a
markdown ratio table; queries with geomean > 1.25 are flagged REAL.
The baseline runs from a temporary worktree; nothing in the working
tree is touched.
"""

from __future__ import annotations

import json
import math
import os
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


def main() -> int:
    if len(sys.argv) != 2:
        print("usage: bench_ab.py BASELINE_REF", file=sys.stderr)
        return 2
    refuse_if_contended()
    ref = sys.argv[1]
    tree = tempfile.mkdtemp(prefix="bench_ab_")
    sh("git", "worktree", "add", "--detach", tree, ref)
    try:
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
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", tree],
                       cwd=REPO, capture_output=True)


if __name__ == "__main__":
    sys.exit(main())
