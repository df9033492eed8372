#!/usr/bin/env python
"""Independent (non-DuckDB) ground truth for the sf1 oracle-capped queries.

At sf1 five registry queries' DuckDB oracles exceed any reasonable
budget (recursive-closure / all-pairs SQL superlinearity), so their full
sweeps record rows-only. This script recomputes the EXACT expected
answer for all of them in pure Python/numpy from the raw parquet (no
Spark, no DuckDB) and compares cell-for-cell with the Spark side —
including dedup_minhash_near_duplicates AND (round 10)
dedup_simhash_near_duplicates, each checked for recall AND precision vs
an exact all-pairs graph with no banding anywhere, plus
dedup_duplicate_clusters (union-find min-member labels) and (round 11)
dedup_jaccard_prefix_join — PPJoin completeness vs the same exact pair
graph, closing the last quadratic-oracle baseline without an
independent recall check:

- dedup_minhash_cross_corpus: exact cross-set 3-shingle Jaccard via a
  shingle inverted index (full recall AND precision — every candidate
  pair sharing >= 1 shingle is checked exactly; J >= 0.7 is impossible
  with 0 shared shingles).
- pipeline_keep_best_rep: exact all-pairs Jaccard >= 0.7 graph ->
  union-find transitive closure -> min-cluster-id labeling ->
  max-distinct-tokens (tie: min doc_id) representative per cluster.
- pipeline_clean_corpus_stats: quality filter (>= 30 tokens, 'a'/'the'
  stopword ratio <= 0.5) -> same exact clustering over the KEPT set ->
  drop non-representative members -> per-language corpus stats.

Usage: python scripts/groundtruth_sf1.py [sf_dir]   (default .localdata/sf1)
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf1"


def load_docs():
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    return t.to_pydict()


def shingle_set(tokens: list[str]) -> frozenset:
    return frozenset(
        " ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)
    )


def exact_pairs(ids, shingles):
    """All pairs with exact Jaccard >= 0.7 among ``ids`` via an inverted
    index: intersection counts accumulate per co-occurring pair, then one
    exact Jaccard per candidate. Complete: J >= 0.7 needs >= 1 shared
    shingle. Also returns the raw intersection counts so asymmetric
    (containment) checks reuse the same single pass."""
    inv = defaultdict(list)
    for i in ids:
        for s in shingles[i]:
            inv[s].append(i)
    inter = defaultdict(int)
    for docs in inv.values():
        if len(docs) > 1:
            for a, b in combinations(sorted(docs), 2):
                inter[(a, b)] += 1
    out = {}
    for (a, b), c in inter.items():
        union = len(shingles[a]) + len(shingles[b]) - c
        if union > 0 and c / union >= 0.7:
            out[(a, b)] = c / union
    return out, inter


def union_find_clusters(ids, pairs):
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = set()
    for a, b in pairs:
        members.add(a)
        members.add(b)
    # path-compress fully, then regroup; min-id root by construction
    clusters = defaultdict(list)
    for i in members:
        clusters[find(i)].append(i)
    return clusters  # cluster_id (min member) -> member list


def main() -> int:
    d = load_docs()
    ids = d["doc_id"]
    toks = {i: t.split(" ") for i, t in zip(ids, d["text"])}
    lang = dict(zip(ids, d["lang"]))
    text = dict(zip(ids, d["text"]))
    t0 = time.time()
    shingles = {i: shingle_set(toks[i]) for i in ids}
    print(f"[gt] {len(ids)} docs, shingled in {time.time()-t0:.1f}s")

    # repo session: sized driver memory — a default-memory session OOMs
    # shuffling sf1 shingle arrays
    from skope_api_spark.session import get_spark

    spark = get_spark("groundtruth_sf1", shuffle_partitions=32)
    import __spark_entry__ as e

    qs = e.queries()
    failures = 0

    # ---- 1. dedup_minhash_cross_corpus -------------------------------
    t0 = time.time()
    corpus = [i for i in ids if i % 5 != 0]
    probes = [i for i in ids if i % 5 == 0]
    inv = defaultdict(lambda: ([], []))
    for i in corpus:
        for s in shingles[i]:
            inv[s][0].append(i)
    for i in probes:
        for s in shingles[i]:
            inv[s][1].append(i)
    inter = defaultdict(int)
    for cs, ps in inv.values():
        if cs and ps:
            for a in cs:
                for b in ps:
                    inter[(a, b)] += 1
    expect = {}
    for (a, b), c in inter.items():
        union = len(shingles[a]) + len(shingles[b]) - c
        if union > 0 and c / union >= 0.7:
            # unrounded on both sides (round-9 jaccard contract): one
            # int/int IEEE division, bit-identical Python vs Spark
            expect[(a, b)] = c / union
    got = {
        (r["doc_id"], r["probe_id"]): r["jaccard"]
        for r in qs["dedup_minhash_cross_corpus"](spark, SF_DIR).collect()
    }
    miss = set(expect) - set(got)
    extra = set(got) - set(expect)
    vdiff = [k for k in expect if k in got and expect[k] != got[k]]
    ok = not (miss or extra or vdiff)
    print(
        f"[gt] dedup_minhash_cross_corpus: expect {len(expect)} pairs, "
        f"spark {len(got)}; missing={len(miss)} extra={len(extra)} "
        f"value_diffs={len(vdiff)} -> {'OK' if ok else 'MISMATCH'} "
        f"({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- shared all-pairs graph (also the direct oracle for the
    # near-duplicates and clusters queries) ----------------------------
    t0 = time.time()
    all_pairs, inter_counts = exact_pairs(ids, shingles)
    print(
        f"[gt] all-pairs exact graph: {len(all_pairs)} edges "
        f"({time.time()-t0:.1f}s)"
    )

    # ---- 1b. dedup_minhash_near_duplicates (recall AND precision) ----
    t0 = time.time()
    got_nd = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in qs["dedup_minhash_near_duplicates"](spark, SF_DIR).collect()
    }
    miss = set(all_pairs) - set(got_nd)
    extra = set(got_nd) - set(all_pairs)
    vdiff = [
        k for k in all_pairs if k in got_nd and all_pairs[k] != got_nd[k]
    ]
    ok = not (miss or extra or vdiff)
    print(
        f"[gt] dedup_minhash_near_duplicates: expect {len(all_pairs)} "
        f"pairs, spark {len(got_nd)}; missing={len(miss)} "
        f"extra={len(extra)} value_diffs={len(vdiff)} -> "
        f"{'OK' if ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 1c. dedup_duplicate_clusters (min-member labels) ------------
    t0 = time.time()
    clusters_all = union_find_clusters(ids, all_pairs)
    expect_lbl = {
        i: min(members)
        for members in clusters_all.values()
        for i in members
    }
    got_lbl = {
        r["doc_id"]: r["cluster_id"]
        for r in qs["dedup_duplicate_clusters"](spark, SF_DIR).collect()
    }
    ok = got_lbl == expect_lbl
    print(
        f"[gt] dedup_duplicate_clusters: {len(expect_lbl)} labeled nodes "
        f"expected, {len(got_lbl)} from spark -> "
        f"{'OK' if ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 1d. dedup_simhash_near_duplicates (recall AND precision) ----
    # The minhash lesson applies verbatim to the pigeonhole path: banded
    # candidate generation could silently miss pairs. Recompute the
    # EXACT all-pairs Hamming<=3 graph: signatures rebuilt independently
    # in numpy (same md5-token contract), then a chunked SWAR-popcount
    # over all 1.25e9 sf1 pairs — no banding anywhere.
    t0 = time.time()
    import hashlib

    import numpy as np

    bits = 60
    th_cache: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        v = th_cache.get(tok)
        if v is None:
            v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            th_cache[tok] = v
        return v

    bit_idx = np.arange(bits, dtype=np.uint64)
    sigs = np.empty(len(ids), dtype=np.uint64)
    for k, i in enumerate(ids):
        th = np.fromiter(
            (tok_hash(t) for t in toks[i]), dtype=np.uint64, count=len(toks[i])
        )
        # per-bit vote: +1 per occurrence with the bit set, else -1
        votes = ((th[:, None] >> bit_idx) & 1).astype(np.int32)
        bal = 2 * votes.sum(axis=0) - len(th)
        sigs[k] = np.sum((bal > 0).astype(np.uint64) << bit_idx)
    print(
        f"[gt] simhash signatures: {len(sigs)} docs, vocab {len(th_cache)} "
        f"({time.time()-t0:.1f}s)"
    )

    def popcount64(v: np.ndarray) -> np.ndarray:
        m1 = np.uint64(0x5555555555555555)
        m2 = np.uint64(0x3333333333333333)
        m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        h01 = np.uint64(0x0101010101010101)
        v = v - ((v >> np.uint64(1)) & m1)
        v = (v & m2) + ((v >> np.uint64(2)) & m2)
        v = (v + (v >> np.uint64(4))) & m4
        return (v * h01) >> np.uint64(56)

    t0 = time.time()
    id_arr = np.asarray(ids, dtype=np.int64)
    expect_sh: dict[tuple[int, int], int] = {}
    chunk = 512
    n = len(sigs)
    for s in range(0, n - 1, chunk):
        e = min(s + chunk, n - 1)
        # rows s..e-1 against all strictly-later columns
        x = sigs[s:e, None] ^ sigs[None, :]
        d = popcount64(x)
        rr, cc = np.nonzero(d <= 3)
        for r, c in zip(rr.tolist(), cc.tolist()):
            gi = s + r
            if c > gi:
                a, b = int(id_arr[gi]), int(id_arr[c])
                if a > b:
                    a, b = b, a
                expect_sh[(a, b)] = int(d[r, c])
    print(
        f"[gt] exact all-pairs Hamming graph: {len(expect_sh)} edges "
        f"({time.time()-t0:.1f}s)"
    )

    t0 = time.time()
    got_sh = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in qs["dedup_simhash_near_duplicates"](spark, SF_DIR).collect()
    }
    miss = set(expect_sh) - set(got_sh)
    extra = set(got_sh) - set(expect_sh)
    vdiff = [
        k for k in expect_sh if k in got_sh and expect_sh[k] != got_sh[k]
    ]
    ok = not (miss or extra or vdiff)
    print(
        f"[gt] dedup_simhash_near_duplicates: expect {len(expect_sh)} "
        f"pairs, spark {len(got_sh)}; missing={len(miss)} "
        f"extra={len(extra)} value_diffs={len(vdiff)} -> "
        f"{'OK' if ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 1e. dedup_jaccard_prefix_join (completeness AND precision) --
    # (round 11) The prefix-filter route was the one quadratic-oracle
    # baseline without an independent recall check: the prefix lemma
    # guarantees completeness only if the implementation derives the
    # prefix length and the shared global order correctly. Same 3-shingle
    # J >= 0.7 contract as the shared exact graph, so compare pair-for-
    # pair and value-for-value (both sides are one int/int IEEE division).
    t0 = time.time()
    got_pj = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in qs["dedup_jaccard_prefix_join"](spark, SF_DIR).collect()
    }
    miss = set(all_pairs) - set(got_pj)
    extra = set(got_pj) - set(all_pairs)
    vdiff = [
        k for k in all_pairs if k in got_pj and all_pairs[k] != got_pj[k]
    ]
    ok = not (miss or extra or vdiff)
    print(
        f"[gt] dedup_jaccard_prefix_join: expect {len(all_pairs)} pairs, "
        f"spark {len(got_pj)}; missing={len(miss)} extra={len(extra)} "
        f"value_diffs={len(vdiff)} -> {'OK' if ok else 'MISMATCH'} "
        f"({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 2. pipeline_keep_best_rep -----------------------------------
    t0 = time.time()
    clusters = union_find_clusters(ids, all_pairs)
    ndt = {i: len(set(toks[i])) for i in ids}
    expect_rep = {}
    for cid, members in clusters.items():
        rep = min(members, key=lambda i: (-ndt[i], i))
        expect_rep[cid] = (rep, len(members), ndt[rep])
    got_rep = {
        r["cluster_id"]: (
            r["rep_id"],
            r["n_members"],
            r["rep_distinct_tokens"],
        )
        for r in qs["pipeline_keep_best_rep"](spark, SF_DIR).collect()
    }
    ok = got_rep == expect_rep
    if not ok:
        only_e = set(expect_rep) - set(got_rep)
        only_g = set(got_rep) - set(expect_rep)
        diff = [
            k
            for k in expect_rep
            if k in got_rep and expect_rep[k] != got_rep[k]
        ]
        print(
            f"     clusters only-expected={sorted(only_e)[:5]} "
            f"only-spark={sorted(only_g)[:5]} value-diff={diff[:5]}"
        )
    print(
        f"[gt] pipeline_keep_best_rep: {len(expect_rep)} clusters expected, "
        f"{len(got_rep)} from spark -> {'OK' if ok else 'MISMATCH'} "
        f"({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 3. pipeline_clean_corpus_stats ------------------------------
    t0 = time.time()
    stop = ("a", "the")
    kept = [
        i
        for i in ids
        if len(toks[i]) >= 30
        and sum(1 for t in toks[i] if t in stop) / len(toks[i]) <= 0.5
    ]
    kept_set = set(kept)
    kept_pairs = {
        p: j for p, j in all_pairs.items()
        if p[0] in kept_set and p[1] in kept_set
    }
    kclusters = union_find_clusters(kept, kept_pairs)
    losers = {
        i
        for cid, members in kclusters.items()
        for i in members
        if i != min(members)
    }
    clean = [i for i in kept if i not in losers]
    agg = defaultdict(lambda: [0, 0, 0])  # lang -> [n, tokens, chars]
    for i in clean:
        a = agg[lang[i]]
        a[0] += 1
        a[1] += len(toks[i])
        a[2] += len(text[i])
    # Spark's F.round is HALF_UP; Python round() is half-even — compute
    # the expectation with the same HALF_UP convention (cross-engine
    # rounding trap, see memory/cross-engine-traps).
    expect_stats = {
        lg: (
            n,
            tt,
            float(
                (Decimal(ch) / Decimal(n)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            ),
        )
        for lg, (n, tt, ch) in agg.items()
    }
    got_stats = {
        r["lang"]: (r["n_docs"], r["total_tokens"], r["avg_chars"])
        for r in qs["pipeline_clean_corpus_stats"](spark, SF_DIR).collect()
    }
    ok = got_stats == expect_stats
    if not ok:
        for lg in sorted(set(expect_stats) | set(got_stats)):
            if expect_stats.get(lg) != got_stats.get(lg):
                print(
                    f"     {lg}: expect {expect_stats.get(lg)} "
                    f"spark {got_stats.get(lg)}"
                )
    print(
        f"[gt] pipeline_clean_corpus_stats: kept {len(kept)}, clean "
        f"{len(clean)}, {len(expect_stats)} langs -> "
        f"{'OK' if ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    # ---- 4. dedup_containment_pairs (r13) -----------------------------
    # Exact DIRECTED containment graph from the same inverted-index
    # intersection counts: containment >= 0.8 needs >= 1 shared shingle,
    # so the candidate set is complete; both directions of every
    # unordered candidate are tested exactly. Recall AND precision vs
    # the Spark asymmetric-prefix join, values compared at full float
    # precision (one int/int division on both sides).
    t0 = time.time()
    expect_cont = {}
    for (a, b), c in inter_counts.items():
        na, nb = len(shingles[a]), len(shingles[b])
        if na and c / na >= 0.8:
            expect_cont[(a, b)] = c / na
        if nb and c / nb >= 0.8:
            expect_cont[(b, a)] = c / nb
    got_cont = {
        (r["doc_src"], r["doc_sup"]): r["containment"]
        for r in qs["dedup_containment_pairs"](spark, SF_DIR).collect()
    }
    miss = set(expect_cont) - set(got_cont)
    extra = set(got_cont) - set(expect_cont)
    vdiff = [
        k for k in expect_cont
        if k in got_cont and expect_cont[k] != got_cont[k]
    ]
    ok = not miss and not extra and not vdiff
    print(
        f"[gt] dedup_containment_pairs: expect {len(expect_cont)} "
        f"directed pairs, spark {len(got_cont)}, miss {len(miss)}, "
        f"extra {len(extra)}, value-diff {len(vdiff)} -> "
        f"{'OK' if ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
    )
    failures += 0 if ok else 1

    print(f"\n{8 - failures}/8 ground-truth checks OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
