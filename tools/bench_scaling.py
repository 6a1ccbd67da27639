#!/usr/bin/env python3
"""Emit SCALING.md: per-query engine seconds at sf1 vs sf10 (10x the
data) over the scale-representative linear subset — the durable record
of the scale-notch campaign that previously lived across wipeable
.tmp logs and NOTES prose.

One invocation regenerates everything it needs:

    python3 tools/bench_scaling.py

  1. Ensures the GenData notches exist (.tmp/sf1 = 10x sf0.1,
     .tmp/sf10 = 100x sf0.1), regenerating from the CURRENT driver
     testdata when absent (the driver regenerates /root/testdata at
     will and .tmp is wiped between sessions).
  2. Runs `graft.Bench` on the subset at both notches (medians over
     --sf1-runs / --sf10-runs measured runs).
  3. Writes SCALING.md (or --out) with per-query seconds, the
     sf10/sf1 ratio at 10x the data, and the documented exclusion
     list (quadratic-by-construction demos and synthetic-corpus
     multiplicity floors are excluded on grounds recorded inline).

The subset is the linear production surface: one representative per
shuffle shape (join+agg, sessionization, packing, sketches, banded
dedup, capped ANN, iterated graph folds, rank quantiles, resampling
statistics). Ratios <= ~8x at 10x the data are the established local
envelope (shuffles leave page cache and the single local disk caps
throughput well below a cluster's aggregate shuffle bandwidth).
"""
import argparse
import calendar
import json
import os
import subprocess
import sys
import time

# Scale-representative linear subset: every production-path family.
SUBSET = [
    "q03_join_agg",          # shuffle join + agg (TPC-H shape)
    "st01_sessionize",       # stateful sessionization
    "st04_attribution",      # stream-stream join
    "td03_tokens",           # map-only text kernel (scan-bound floor)
    "td19_sequence_pack",    # sequence packing
    "td36_budget_select",    # global rank + budget cut
    "td45_perplexity_buckets",  # bigram-LM scoring
    "td48_cross_source_dups",   # cross-source fingerprint join
    "td50_k_anonymity",      # hash aggregate over integers
    "td54_ngram_decontam",   # exact n-gram eval-overlap join
    "td55_quality_classifier",  # 16-pass exact-grain GD training
    "ss03_ivf_ann",          # IVF probe-cluster equi-join
    "ss18_capped_lsh_ann",   # capped-bucket LSH ANN (linear ANN path)
    "ss19_capped_multiprobe",  # capped multi-probe LSH
    "ss21_capped_triangles",   # capped-LSH kNN graph + oriented wedges
    "ss22_capped_linkpred",    # capped-LSH kNN graph + common neighbours (linear again at bits=12)
    "ss23_capped_labelprop",   # capped-LSH kNN graph + label prop
    "ss24_nn_descent",         # 2-round NN-Descent kNN-graph refinement
    "ss25_sq8_rerank",         # SQ8 compressed-domain scan + exact rerank
    "ss26_ivf_sq8",            # IVF probes x SQ8 compressed scan
    "ss27_binary_quant",       # 1-bit Hamming scan + exact rerank
    "dd20_lsh_decontam",       # MinHash fuzzy eval-decontam (broadcast eval)
    "dd21_sorted_neighborhood",  # O(N*w) sorted-neighborhood candidates
    "mm06_real_image_decode",  # real ImageIO encode+decode, map-only
    "mm07_real_audio_decode",  # real WAV encode+decode, map-only
    "mm08_audio_headers",      # header-only RIFF walk (no PCM pass, no SPI dispatch)
    "dd01_minhash_lsh",      # MinHash band join (linear dedup path)
    "dd12_span_dedup",       # exploded window spans (shuffle-volume heavy)
    "dd18_cdc_chunks",       # content-defined chunking
    "dd19_simhash_classes",  # sketch-class collapse (linear SimHash form)
    "x24_mad_outliers",      # histogram-refinement exact medians (selection, no sort)
    "x27_pagerank",          # iterated integer-grain rank sum
    "x29_rolling_median",    # sliding rank window
    "x33_ranked_quantiles",  # histogram-refinement exact percentiles
    "x36_rolling_regression",  # windowed exact moments
    "x37_assoc_rules",       # basket pair join
    "x40_ewma_anomaly",      # ordered per-group scan
    "x41_incremental_agg",   # incremental aggregate maintenance
    "x42_bootstrap_ci",      # hash-bit resampling
    "x43_permutation_test",  # 64-permutation exact replay
    "x44_personalized_pagerank",  # seeded iterated integer-grain rank sum
]

# Catalog rows excluded from the sf10 campaign, with the measured
# grounds (full analysis in NOTES.md "sf10 notch" sections).
EXCLUSIONS = [
    ("td06 dd09 dd05 dd10 td53",
     "exact all-pairs / gram self-join baselines: the ANSWER SET "
     "(all qualifying pairs at a loose threshold) is quadratic in SF "
     "by construction, so no plan can be linear; their scalable "
     "counterparts (dd01, dd19, prefix-filtered dd10 at tight "
     "thresholds) are in the subset"),
    ("dd08 ss02 ss16",
     "synthetic-corpus multiplicity floor: GenData replicas are "
     "word-permuted copies, so bag-of-words sketch classes are "
     "CONSTANT across scales and same-sketch pairs grow with "
     "multiplicity^2 (8 pairs at sf0.1 -> 24.8M at sf10, "
     "DuckDB-verified); the collapsed/capped forms dd19/ss18/ss19 "
     "in the subset prove the same plans linear"),
    ("ss01 ss06 ss12 ss13 ss14 ss15",
     "exact-kNN kernels: brute-force block-pair cosine is O(N^2/B) "
     "by definition of exact kNN — it is the recall BASELINE; the "
     "scale path is the capped LSH family in the subset"),
    ("mm05 ss12",
     "connected-components oracle replays scoped to deterministic "
     "%4 corpus slices (DuckDB materializes |component|^2 reach "
     "rows); the engine-side CC operator scales via x27-style "
     "iterated folds, measured here through x27/dd19"),
    ("in09 st02 st03",
     "streaming E2E / micro-batch rows: wall-clock is trigger-round "
     "latency, not data volume — a throughput notch would measure "
     "the scheduler, not the plan"),
    ("everything else",
     "one-shot sub-second ops at sf1; their full-catalog sf1 "
     "numbers are in BENCHRATIO.md — re-measuring them at sf10 adds "
     "wall-clock, not information"),
]


def ensure_notch(src, dst, factor):
    if os.path.exists(os.path.join(dst, "lineitem.parquet")):
        return 0.0
    print(f"[gen] {dst} = {factor}x {src}", flush=True)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.tools.GenData {src} {dst} {factor}"],
        cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-3000:], r.stderr[-3000:])
        sys.exit(f"GenData failed for {dst}")
    return time.time() - t0


# Queries whose sf10 runs spill tens of GB run in their OWN Bench
# invocation, LAST, so the ContextCleaner's asynchronous shuffle-file
# deletion lands on no other query's measured window (round 9 measured
# x42 at 20.4 s inside the campaign vs 5.3 s isolated — pure cleanup
# debt from the then-79 GB graph folds). Round 10's integer-grain rank
# sums eliminated that spill (bench counters read 0 MB at sf10), so
# the list is currently empty; it stays as the quarantine mechanism.
SPILL_HEAVY = []


# A canary stamp older than this says nothing about THIS measurement
# window; stale/absent stamps must not flip the aggregate to
# min-of-runs (that switch requires evidence of degradation).
CANARY_MAX_AGE_S = 6 * 3600


def read_canary():
    """Latest tools/bench_canary.py stamp, or None — every artifact
    header carries the host-health verdict it was generated under.
    Stale stamps (> CANARY_MAX_AGE_S) come back with stale=True and are
    treated as absent for aggregate selection."""
    try:
        c = json.load(open("/root/repo/.tmp/canary_last.json"))
    except Exception:
        return None
    try:
        age = time.time() - calendar.timegm(
            time.strptime(c.get("ts", ""), "%Y-%m-%dT%H:%M:%SZ"))
        c["age_s"] = int(age)
        c["stale"] = not (-300 <= age <= CANARY_MAX_AGE_S)
    except Exception:
        c["stale"] = True
    return c


def run_bench(sf_dir, runs, timeout_s):
    def one(only, tag):
        env = dict(os.environ,
                   SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_BENCH_RUNS=str(runs),
                   SPARK_GRAFT_ONLY=",".join(only),
                   SPARK_GRAFT_QUERY_TIMEOUT=str(timeout_s),
                   # campaigns manage their own wall-clock; the global
                   # deadline exists for the driver's bare invocation
                   SPARK_GRAFT_BENCH_DEADLINE_SEC="100000",
                   SPARK_GRAFT_SF1="0")
        print(f"[bench] {sf_dir} {tag} ({runs} measured runs)", flush=True)
        r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           cwd="/root/repo", env=env, capture_output=True, text=True)
        for line in reversed(r.stdout.splitlines()):
            if '"spread"' in line:
                return json.loads(line)
        print(r.stdout[-3000:], r.stderr[-3000:])
        sys.exit(f"bench produced no JSON line for {sf_dir}")

    main_part = one([q for q in SUBSET if q not in SPILL_HEAVY], "main")
    spill_list = [q for q in SUBSET if q in SPILL_HEAVY]
    spill_part = (one(spill_list, "spill-heavy") if spill_list
                  else {"queries": {}, "spread": {}})
    merged = dict(main_part)
    merged["queries"] = {**main_part["queries"], **spill_part["queries"]}
    merged["spread"] = {**main_part.get("spread", {}), **spill_part.get("spread", {})}
    # the per-part 'value' totals cover only that part's queries; make
    # the merged total the sum over ALL medians so a reader of the
    # embedded JSON doesn't get a number excluding the spill-heavy part
    merged["value"] = round(sum(merged["queries"].values()), 4)
    return merged


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default="/root/repo/.tmp/sf1")
    ap.add_argument("--sf10-dir", default="/root/repo/.tmp/sf10")
    ap.add_argument("--src", default="/root/testdata/sf0.1",
                    help="driver testdata the notches replicate")
    ap.add_argument("--sf1-runs", type=int, default=3)
    ap.add_argument("--sf10-runs", type=int, default=2)
    ap.add_argument("--timeout", type=int, default=420,
                    help="per-query bench timeout in seconds")
    ap.add_argument("--out", default="/root/repo/SCALING.md")
    ap.add_argument("--agg", choices=["auto", "median", "min"], default="auto",
                    help="per-query aggregate: auto = median on a healthy "
                    "canary, min-of-runs on a degraded one (the NOTES "
                    "measurement-discipline policy)")
    a = ap.parse_args()

    ensure_notch(a.src, a.sf1_dir, 10)
    ensure_notch(a.src, a.sf10_dir, 100)

    canary = read_canary()
    # min-of-runs requires EVIDENCE of degradation: a missing or stale
    # stamp defaults to median (ADVICE r12)
    fresh = canary is not None and not canary.get("stale")
    degraded = fresh and canary.get("status") != "healthy"
    agg = a.agg if a.agg != "auto" else ("min" if degraded else "median")

    b1 = run_bench(a.sf1_dir, a.sf1_runs, a.timeout)
    b10 = run_bench(a.sf10_dir, a.sf10_runs, a.timeout)
    s1, s10 = b1.get("spread", {}), b10.get("spread", {})
    if agg == "min":
        # min-of-runs: on a host with one-sided I/O-latency jitter the
        # minimum is the best available estimate of the un-stalled cost
        # (jitter only ADDS time); medians stay readable in the spread
        q1 = {k: v.get("min", -1.0) for k, v in s1.items()}
        q10 = {k: v.get("min", -1.0) for k, v in s10.items()}
    else:
        q1, q10 = b1["queries"], b10["queries"]

    rows = []
    for q in SUBSET:
        t1, t10 = q1.get(q, -1.0), q10.get(q, -1.0)
        ratio = (t10 / t1) if (t1 and t1 > 0 and t10 >= 0) else None
        rows.append((q, t1, t10, ratio))
    ok = [r for r in rows if r[3] is not None]
    tot1 = sum(r[1] for r in ok)
    tot10 = sum(r[2] for r in ok)
    le8 = sum(1 for r in ok if r[3] <= 8.0)

    with open(a.out, "w") as f:
        f.write("# SCALING — engine seconds at sf1 vs sf10 (10x the data), "
                "linear production subset\n\n")
        f.write(f"- Notches: sf1 = 10x `{a.src}`, sf10 = 100x (GenData, "
                f"deterministic word-permuted replication)  \n")
        f.write(f"- Generated: {time.strftime('%Y-%m-%d %H:%M:%S')} by "
                f"`tools/bench_scaling.py` ({agg} of {a.sf1_runs}/"
                f"{a.sf10_runs} measured runs at local[32], warmup "
                f"excluded, checkpoint blocks dropped between runs)  \n")
        if canary:
            f.write(f"- **Host canary** (`tools/bench_canary.py`, {canary.get('ts')}): "
                    f"x42 sf10 {canary.get('x42_sf10')} s (bar {canary.get('x42_max')}), "
                    f"ss19 sf10 {canary.get('ss19_sf10')} s (bar {canary.get('ss19_max')}) "
                    f"→ **{canary.get('status', '?').upper()}**"
                    + (f" — stamp STALE (age {canary.get('age_s', '?')} s > "
                       f"{CANARY_MAX_AGE_S} s): treated as absent; medians "
                       "recorded" if canary.get("stale") else "")
                    + (". Per the measurement-discipline policy (NOTES.md) this "
                       "campaign records MIN-of-runs: the host's one-sided "
                       "I/O-latency jitter only adds time, so the minimum is "
                       "the closest available estimate of un-stalled cost; "
                       "medians remain in the spread JSON below.  \n"
                       if agg == "min" else ".  \n"))
        else:
            f.write("- Host canary: NOT RUN before this campaign (no stamp file).  \n")
        f.write(f"- **Subset totals: sf1 {tot1:.1f} s, sf10 {tot10:.1f} s "
                f"over {len(ok)} queries — {le8}/{len(ok)} within the 8x "
                f"local envelope at 10x the data.**  \n")
        f.write("- Readings above ~8x are single-node shuffle-disk "
                "bandwidth (measured: partition-width sweeps do NOT fix "
                "them, NOTES \"sf10 notch\"); a cluster adds that exact "
                "resource per executor.\n\n")
        f.write("| query | sf1 s | sf10 s | sf10/sf1 @ 10x data |\n|---|---|---|---|\n")
        for q, t1, t10, ratio in sorted(rows, key=lambda r: -(r[3] or -1)):
            rs = f"{ratio:.1f}x" if ratio is not None else "—"
            f.write(f"| {q} | {t1:.2f} | {t10:.2f} | {rs} |\n")
        f.write("\nFootnote — **mm07_real_audio_decode is map-only** (zero "
                "shuffle at both notches, per the spread JSON) and its per-row "
                "budget is MEASURED (single-thread tight loop over 20k "
                "fixture clips, NOTES VERDICT 6): full decode ~37 us/row, of "
                "which the `AudioSystem` SPI dispatch+stream setup is ~everything "
                "for short clips — real codec work, linear by construction, not "
                "a plan defect; wide sf10 "
                "run spread under a degraded canary moves it around 10x. "
                "**mm08_audio_headers** is the committed fast path for "
                "format/duration-only audits: a direct RIFF chunk walk at "
                "~0.12 us/row (~300x less), oracle-pinned to agree with the "
                "full decoder's header facts. "
                "**ss19/dd01 above 8x** are the banded shuffle-write rows the "
                "degraded host's virtio write-latency inflates 2-4x (healthy "
                "campaigns read them 5.7x/3.2x — NOTES r10/r8); their "
                "shuffle_mb counters are byte-identical across runs, so the "
                "work is unchanged.\n")
        f.write("\nFootnote — **ss25_sq8_rerank's scaling posture** (by design, "
                "not a defect): ss25 is a FLAT compressed-domain scan — every "
                "query scores all N SQ8 codes — so its cost is linear in N and "
                "its sf10/sf1 ratio is expected to read ~10x at 10x the data; "
                "it is the linear-scan BASELINE of the compression ladder. The "
                "scale path over a growing corpus is ss26 (IVF-SQ8: the probe "
                "equi-join bounds the scanned codes to nprobe clusters) — the "
                "ss01-vs-ss03 relationship, one tier down the ladder.\n")
        f.write("\n## Excluded from the sf10 campaign (measured grounds)\n\n")
        for ids, why in EXCLUSIONS:
            f.write(f"- **{ids}** — {why}.\n")
        f.write("\nPer-run spreads (median/min/max over the measured runs, "
                "seconds) — the run-to-run envelope behind the medians:\n\n"
                "```json\n")
        f.write(json.dumps({"sf1": s1, "sf10": s10},
                           separators=(",", ":")))
        f.write("\n```\n")
    print(f"wrote {a.out}: sf1 {tot1:.1f}s, sf10 {tot10:.1f}s, "
          f"{le8}/{len(ok)} within 8x")


if __name__ == "__main__":
    main()
