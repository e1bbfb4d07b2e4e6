#!/usr/bin/env python3
"""Gate the graft.DupExec duplicate-execution report (VERDICT r17 #1).

Usage:
    tools/bench_fresh.sh-style jar invocation of graft.DupExec writes
    /tmp/graft_dup_exec.json (one entry per graded query: captured
    QueryExecution count, error, flags); then:

    python3 tools/dup_exec.py /tmp/graft_dup_exec.json

What a flag means (see DupExec.scala): a structurally identical heavy
subtree (join / aggregate / window / shuffle / generate) executed more
than once — either twice inside ONE executed plan (the q120 HITS bug
class: ReuseExchange misses across self-join dealiasing) or as a pure
from-files recompute across separate actions. The round-18 sweep found
63 flagged queries; the expensive ones gained the persist idiom (the
q120 fix shape) and the residue below is the DOCUMENTED-CHEAP
allowlist — every entry is a bounded recompute that a persist would
not pay for.

Exit codes: 0 clean (only allowlisted flags); 1 unallowlisted flags or
query errors; 2 report too small (vacuous-green guard, same class as
plan_lint's parsed-plans floor).
"""
import json
import sys

MIN_QUERIES = 200  # graded surface is 270; far above zero, well under it

# query -> (max allowed flags, reason). Every entry is a deliberate
# recompute judged cheaper than its persist at both bench scale and
# 100 TB; subtree sizes refer to the round-18 sweep.
ALLOWLIST = {
    # LSH band explode re-run once per self-join side: the signature
    # stage IS persisted; each side re-runs a 4-element posexplode /
    # isnotnull over the cache — O(rows) array indexing, no shuffle or
    # aggregate inside the duplicate. Persisting the exploded rows
    # would cache 4x|contents| rows to save arithmetic.
    # MEASURED (round-19, sf0.1, bands persisted or not in
    # Dedup.contentPairCandidates through an env switch since removed,
    # 3 interleaved fresh-JVM runs each, healthy box — cpu sentinel
    # 0.39-0.43s): explode-per-side
    # 1.345/1.437/1.49s vs persisted bands 1.30/1.332/1.53s — a wash
    # within the +-0.15s noise band; the persist pays 4x cache memory
    # for no time win even at bench scale, and at 100 TB the extra
    # cache pressure evicts frames that DO have multiple readers.
    "q19_neardup_pairs": (1, "band explode per self-join side over cache"),
    "q105_split_leakage": (1, "band explode per self-join side over cache"),
    "q111_cross_source_neardups":
        (1, "band explode per self-join side over cache"),
    "q96_dedup_threshold_sweep":
        (1, "band explode per self-join side over cache"),
    "q31_simhash_neardups":
        (1, "band explode per self-join side over cache"),
    "q40_dedup_clusters": (1, "band explode per self-join side over cache"),
    "q45_training_pipeline":
        (1, "band explode per self-join side over cache"),
    "q88_curated_packing": (1, "band explode per self-join side over cache"),
    "q114_cluster_split": (1, "band explode per self-join side over cache"),
    "q138_dedup_savings": (1, "band explode per self-join side over cache"),
    "q147_quality_dup_overlap":
        (1, "band explode per self-join side over cache"),
    "q29_lsh_ann": (1, "bucket explode per join side over cache"),
    "q41_lsh_multiprobe": (1, "bucket explode per join side over cache"),
    "q151_ann_recall_ladder": (1, "bucket explode per join side over cache"),
    "q73_fuzzy_name_match": (1, "key explode per self-join side over cache"),
    "q50_tfidf_terms": (1, "token explode per join side over cache"),
    "q58_lm_quality": (1, "token explode per n-gram order over cache"),
    "q130_audio_neardups": (1, "frame explode per join side over cache"),
    "q129_image_neardups": (1, "band explode per join side over cache"),
    # Ladder arms intentionally re-scan a persisted base with a
    # DIFFERENT expression per level (slice dims / probe depth) — the
    # shared prefix is a cache scan + broadcast, nothing heavy
    # recomputes; materializing per-arm variants would multiply memory.
    "q255_truncated_recall":
        (1, "per-dim arms re-scan the persisted corpus by design"),
}

path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_dup_exec.json"
report = json.load(open(path))
print(f"{len(report)} queries in dup-exec report")
if len(report) < MIN_QUERIES:
    print(f"HARD FAIL: only {len(report)} queries (< {MIN_QUERIES}) — "
          "the sweep is truncated or ran a subset; nothing was proven.")
    sys.exit(2)

errs = {q: v["err"] for q, v in report.items() if v.get("err")}
bad = []
allowed = []
for q, v in sorted(report.items()):
    flags = v.get("flags", [])
    if not flags:
        continue
    cap, reason = ALLOWLIST.get(q, (0, None))
    if len(flags) <= cap:
        allowed.append((q, len(flags), reason))
    else:
        bad.append((q, flags))

if allowed:
    print(f"\n{len(allowed)} allowlisted (documented-cheap) quer"
          f"{'y' if len(allowed) == 1 else 'ies'}:")
    for q, n, reason in allowed:
        print(f"  {q}: {n} flag(s) — {reason}")

# informational: persisted caches scanned <= 1 time across the query's
# executions — the fill bought no reuse (the inverse of a duplicate
# execution). Not gated: some single-reader persists deliberately cut
# lineage before a self-join; triage and either drop the persist or
# document it at the site.
single = {q: v["single_reader_caches"] for q, v in report.items()
          if v.get("single_reader_caches")}
if single:
    n = sum(len(v) for v in single.values())
    print(f"\n{n} single-reader persisted cache(s) across "
          f"{len(single)} queries (INFO — fill cost with no reuse; "
          f"triage, don't panic):")
    for q, caches in sorted(single.items()):
        for c in caches:
            print(f"  {q}: {c[:120]}")

if errs:
    print(f"\nHARD FAIL: {len(errs)} quer"
          f"{'y' if len(errs) == 1 else 'ies'} errored during the sweep:")
    for q, e in sorted(errs.items()):
        print(f"  {q}: {e[:120]}")

if bad:
    print(f"\nHARD FAIL: {len(bad)} quer"
          f"{'y' if len(bad) == 1 else 'ies'} with unallowlisted "
          f"duplicate executions:")
    for q, flags in bad:
        for f in flags:
            print(f"  {q}: {f['kind']} n={f['n']} size={f['size']} "
                  f"{f['detail'][:100]}")
    print("\nFix shape: persist the multi-traversal frame (the q120 "
          "idiom — see Graph.scala hitsHalfRound) or add a documented "
          "ALLOWLIST entry with the reason a persist would not pay.")

sys.exit(1 if (bad or errs) else 0)
