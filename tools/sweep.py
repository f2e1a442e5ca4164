#!/usr/bin/env python3
"""Per-query oracle sweep at an arbitrary scale factor.

The driver's correctness gate runs at sf0.01; this sweep re-validates
each query's hash-match at another SF (one DuckDB run per query, with a
per-query timeout so one slow oracle cannot stall everything). This is how the q64
window-pairing nondeterminism was caught: it passed at sf0.01 by luck
and only diverged once duplicate sort keys landed in the same group.

Usage:
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 tmp/verify_sf01"
  python3 tools/sweep.py /root/testdata/sf0.1 tmp/verify_sf01 [timeout_s]

Fixture-clobbering caveat: the file-format gates (q78/q79/q80/q83/
q85/q89/q107...) write their fixture files at STATIC paths shared
across scale factors, and their oracles re-read those files. Run the
sweep directly after the Verify dump for the SAME sf dir — an
interleaved Verify at another SF rewrites the fixtures and the oracle
then reads the wrong corpus (this bit the r8 sf1 sweep: q79 "failed"
against an sf0.01-sized fixture clobbered by a concurrent sf0.01 run;
it passes when re-dumped and checked in order).
"""
import json
import os
import subprocess
import sys

# Oracles that are correct but expensive in DuckDB at sf1 — they get a
# larger per-query budget instead of the sweep default, so the gate
# isn't load-sensitive on a shared box. Engine-side all three complete
# inside Verify at sf1; the budget only covers the ORACLE's cost.
# - q82's CDS-assembly oracle: ~215s wall standalone at sf1, blew the
#   150s default under co-tenant load in r7b (VERDICT r7 missing #3).
# - q109/q110 share the two-sequential-waves epoch-dedup oracle
#   (3x minhashCtes over the corpus + two verify passes): ~300s wall /
#   ~140 CPU-min each at sf1 (r8 measurement, artifacts/).
# 900s ~= 3-4x the standalone wall times, sized for a loaded box.
SLOW_ORACLE_TIMEOUT = {
    "q82_postprocess_fasta": 900,
    "q109_stream_dedup": 900,
    "q110_index_compaction": 900,
    "q112_index_retraction": 900,  # 2x minhashCtes + 1 verify pass
    # two sequential wave replays, each an inline-cosine probe join
    # (~15M evals at sf1) — heavy but not quadratic in the corpus
    "q120_incremental_semantic_dedup": 900,
    # q120's oracle plus (q122) nothing / (q123) a filtered index /
    # (q124) a SECOND full Lloyd chain + reassignment — same cost class
    "q122_semantic_index_compaction": 900,
    "q123_semantic_index_retraction": 900,
    "q124_semantic_index_retrain": 900,
    # one corpus minhash signing + the CAPPED verify join (bounded
    # candidates — the whole point); the signing CTEs dominate at sf1
    "q121_dedup_lsh_hotcap": 900,
    # tuning-sample exact leg (~q115's shape) + the coarse-bucket join
    "q126_lsh_operating_point": 900,
    # q121's story at word granularity: the CAP is what makes this
    # oracle feasible at all — the uncapped sibling (q108)'s sf0.1
    # DuckDB verify was abandoned after 2h wall / 245 CPU-min in r11,
    # while q127's capped oracle passed the same corpus in ~40s. At
    # sf1 the word-bigram signing CTEs dominate (per-bigram char-fold
    # hashes); candidates stay bounded by construction.
    "q127_dedup_word_hotcap": 900,
    # two full Lloyd chains + three wave replays — q124's cost class
    "q128_semantic_drift_retrain": 900,
    # one Lloyd chain + two inline-cosine probe joins — q120's class
    "q129_semantic_threshold_point": 900,
    # shares semanticEpochOracle VERBATIM with q120 (twin-oracle) —
    # after q120's row the oracle is a cache hit; budget covers the
    # cold case
    "q132_stream_semantic_dedup": 900,
    # the centroid-assignment cross join is n^2/101 rows of 8-dim
    # cosine (25x cheaper per row than q53's 64-dim)
    "q130_multimodal_ann": 900,
    # r15: class-blocked (identical-content classes, artifacts/
    # r15_sf1_oracles.md) — measured sf1 walls
    # 419s / 136s / 136s, inside the 900s band at every SF
    "q41_dedup_minhash_lsh": 900,
    "q43_dedup_ngram_jaccard": 900,
    "q52_dedup_clusters": 900,
    # r14's MATERIALIZED-closure rewrite: 27.6s at sf1, 30s at sf0.1
    "q88_dedup_pipeline": 900,
    # r15 class-blocked (as above): sub-minute at
    # sf0.1; 900s covers the sf1 signing/feature scans under load
    "q92_dedup_prefix_filter": 900,
    "q108_dedup_minhash_word": 900,
    "q119_semantic_dedup_pipeline": 900,
    # measured inline-feasible at sf1 after all (r11 priming run,
    # 8 DuckDB threads): q44 57s (400 probes x corpus — linear in
    # corpus, not quadratic), q53 263s (n x n/40 64-dim assignment
    # cross join), q45 1.4s (bucket equi-join).
    "q44_knn_bruteforce": 900,
    "q45_knn_lsh": 300,
    "q53_knn_ivf": 900,
    # inline-feasible after the late-r11 norm hoist (measured sf1
    # walls, 8 DuckDB threads, under concurrent load): q58 48s (67.5M
    # 8-dim pairs), q118 210s (~53M same-cell 64-dim pairs), q131 259s
    # (q118's shape + the planted-flood corpus), q46 352s (200M
    # all-pairs — the exact baseline).
    "q58_multimodal_embed": 900,
    "q118_semantic_dedup_ivf": 900,
    "q131_semantic_hotcell_cap": 900,
    "q46_dedup_embedding": 900,
    # r13 additions — the r12/r13 gates. q133/q136 replay the
    # multimodal feature->train->wave chain (q120's cost class at
    # dim 8, cheaper per pair but the ascii() feature CTE scans every
    # character); q134 runs THREE Lloyd chains (K ladder) + three full
    # assignments over the embeddings (q124's two-chain class + one);
    # q135 is q127's signing CTEs + three capped band joins (bounded
    # candidates by construction — the signing dominates, q127's
    # story).
    "q133_multimodal_index": 900,
    "q134_index_geometry_point": 900,
    "q135_hotcap_operating_point": 900,
    "q136_multimodal_compact_retract": 900,
    # r14: one 61-dim Lloyd chain + the cell-blocked cover-analysis
    # join (acceptWave's shape with an fp tag — ~n^2/K pairs of 61-dim
    # dots) + two probe replays; q120's cost class at a wider dim
    "q137_multimodal_selective_retract": 900,
}


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    per_query_timeout = sys.argv[3] if len(sys.argv) > 3 else "150"
    oracle_sql = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(oracle_sql.keys())
    # per-dump oracle-result cache (see check.py run_oracle): queries
    # sharing one oracle verbatim pay DuckDB once
    cache_dir = f"{out_dir}/oracle_cache"
    env = dict(os.environ, GRAFT_ORACLE_CACHE=cache_dir)
    ok, fail, timed_out = [], [], []
    for n in names:
        budget = str(SLOW_ORACLE_TIMEOUT.get(n, per_query_timeout))
        r = subprocess.run(
            ["timeout", budget, "python3", "-u", "tools/check.py",
             sf_dir, out_dir, n],
            capture_output=True, text=True, env=env)
        # check.py's summary line; the slowest-oracle list follows it
        tail = next((l for l in reversed(r.stdout.splitlines())
                     if l.startswith("== ")), "")
        if r.returncode == 124:
            timed_out.append(n)
            print(f"{n}: TIMEOUT", flush=True)
        elif "0 fail" in tail:
            ok.append(n)
            print(f"{n}: ok", flush=True)
        else:
            fail.append(n)
            print(f"{n}: FAIL {tail}", flush=True)
    print(f"== sweep {sf_dir}: {len(ok)} ok, {len(fail)} fail, "
          f"{len(timed_out)} timeout ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
