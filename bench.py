#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing model: per query, build the DataFrame (plan) + execute with a
count-style collect that materializes every result row but doesn't ship
them through toPandas (mirrors the reference's throughput-not-latency
benchmarking, /root/reference/metrics.go:101-166). A warmup query runs
first so JVM/codegen startup isn't billed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from quacfka_spark.registry import get_queries
from quacfka_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# timed passes per headline query; the line reports the best
PASSES = 2

# Headline set: one per operator family — scan/agg, joins, window, explode,
# streaming-batch, text, dedup (exact + LSH), similarity, multimodal.
HEADLINE = [
    "q01_scan_count",
    "q04_hash_agg",
    "q05_count_distinct",
    "q07_inner_join",
    "q11_multiway_join",
    "q12_theta_join",
    "q13_window_rank",
    "q17_rollup",
    "q21_posexplode",
    "q23_subqueries",
    "q27_cube_grouping",
    "q28_window_nav",
    "q30_percentile",
    "q30p_approx_percentile_only",
    "q34_higher_order_array",
    "s01_tumbling_window",
    "s03_session_window",
    "t01_token_count",
    "t04_fingerprint",
    "d01_exact_dedup",
    "d03_minhash_lsh",
    "d03p_minhash_xxhash_pairs",
    "d05_embedding_cosine",
    "d07_cosine_lsh_pairs",
    "sim01_bruteforce_topk",
    "sim04_ivf_topk",
    "m02_feature_extract",
    "m03_frame_sample",
    "x01_asof_join",
    "x03_range_band_join",
    "x06_bucketed_join_agg",
    "x04_time_rollup",
    "t05_term_frequency",
    "q37_range_interval_frame",
    "q42_latest_per_key",
    "q43_skew_safe_agg",
    "t07_corpus_mix",
    "t08_decontaminate",
    "t09_chunk_split_builtin",
    "sim06_multi_query_topk",
    "t10_pii_scrub",
    "t11_repetition_rules",
    "d09_chunk_freq_dedup",
    "sim07_pq_topk",
    "x07_partition_pruned_rollup",
    "x09_zorder_scan",
    "s07_funnel_join",
    "s08_stream_static_enrich",
    "q44_hll_sketch",
    "t12_sequence_pack",
    "m05_binary_piecewise_dedup",
    "t13_url_filter",
    "x08_mix_resample",
    "t14_lm_perplexity",
    "d10_semdedup",
    "d10x_semdedup_recall",
    "d07x_lsh_recall",
    "d07w_lsh_wideband_pairs",
    "d07wx_recovered_recall",
    # the int8 verify payload (r11): d07q's baseline d07 is a headline
    # member, and the pair should show int8's verify-wall win inline
    "d07q_int8_verify_pairs",
    "d07qx_int8_agreement",
    "sim10w_knn_graph_wideband",
    "sim10wx_wideband_agreement",
    # d03r_minhash_recall is registered + mirror-checked but NOT in the
    # headline: its exact-shingle-join baseline is d02-class cost (the
    # same reason d02 itself isn't here) — certification keys ride the
    # headline only when their baseline is already a headline member
    # (d07x reuses d05, which is).
    "q45_grouping_sets",
    "t15_url_canonical_dedup",
    "q46_stats_profile",
    "q47_median_mode",
    "t16_bm25_topk",
    "t17_dsir_resample",
    "sim08_rrf_hybrid",
    "x10_compact_scan",
    "q48_fuzzy_match",
    "x11_changelog_merge",
    "q51_running_distinct",
    "x12_gap_fill",
    "q52_recursive_cte",
    "d11_cdc_dedup",
    "x13_dynamic_pruned_join",
    "t18_shuffle_shard",
    "q49_histogram",
    "q50_ntile_deciles",
    "t19_split_assign",
    "d12_ngram_novelty",
    "sim09_range_search",
    "sim10_knn_graph",
    "sim11_knn_pagerank",
    # d13_cluster_quota is registered + mirror-checked but NOT in the
    # headline: like d06/d08 it runs label propagation to convergence
    # (driver-synchronized rounds), the d06-class cost the headline
    # already represents through its constituent stages (d03 pairing +
    # the windowed quota); one-off timing: 2.78 s at sf0.1.
    "t20_distill_classifier",
    "t21_distill_auc",
    "x14_scd2_history",
    "x15_cohort_retention",
    "x16_snapshot_timeline",
    "m06_ahash_neardup",
    "m07_dhash_neardup",
    "x17_bloom_join",
    "s09_outer_interval_join",
    "sim12_mmr_rerank",
    "q53_string_agg",
    "t22_truncation_waste",
    # sim13_knn_communities is registered + mirror-checked but NOT in
    # the headline: like d06/d13 it runs label propagation to
    # convergence (driver-synchronized rounds), a cost class the
    # headline already represents through d06's constituents.
    # d14_fuzzy_containment is registered + mirror-checked but NOT in
    # the headline: it is the d02-class exact shingle self-join by
    # role (the production scale shape is t08's inverted-index join)
]


def _compact_ingest(rep: dict, wide: bool = False) -> dict:
    """Keep only the headline ingest fields on the stdout line (the
    driver's tail capture is ~2 KB; round 5's full line overflowed it
    and BENCH_r05.json recorded "parsed": null)."""
    if "total_rows_per_second" not in rep:
        # failure path: four blocks can carry the same ~200-char error
        # string; at 80 chars each they stay inside the line budget even
        # when all four fail together (advisor r7).
        return {
            k: (v[:80] if isinstance(v, str) else v) for k, v in rep.items()
        }
    # rates only: duration and pass walls live in BENCH_STATS.json —
    # every byte here competes with per-query detail for the 2000-char
    # driver capture. The WIDE blocks additionally carry MB/s +
    # bytes/record: byte parity with the reference's published 501 MB/s
    # at ~1.27 KB/record.
    out = {
        "total_rows_per_second": round(rep["total_rows_per_second"]),
        "records_per_second": round(rep["records_per_second"]),
    }
    if wide:
        out["mb_per_second"] = round(rep.get("mb_per_second", 0.0), 1)
        out["bytes_per_record"] = round(rep.get("bytes_per_record", 0.0))
    return out


# Hard byte budget for the single stdout JSON line: the driver's tail
# capture truncates around 2000 chars, and a line that doesn't parse
# loses the round's headline record (BENCH_r05.json). Guarded by
# tests/test_bench_emit.py against query-count growth.
LINE_BUDGET = 1900


def build_headline_line(
    timings: dict[str, float],
    sf,
    ingest: dict,
    ingest_streaming: dict,
    errors: dict[str, str] | None = None,
    value: float | None = None,
    ingest_wide: dict | None = None,
    ingest_streaming_wide: dict | None = None,
    spread: dict | None = None,
) -> str:
    """Render the ONE parseable stdout line, trimming the per-query map
    (slowest kept individually, fast tail folded into "_others") until
    it fits LINE_BUDGET. The headline value is always the full sum.

    ``spread`` (see main) rides the parsed line: med_total/value near
    1.0 means the two passes agree; a large ratio means one pass of
    some queries ran slow."""
    headline = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 4) if value is None else value,
        "unit": "sec",
        **({"spread": spread} if spread else {}),
        "queries": timings,
        "sf": sf,
        "ingest": _compact_ingest(ingest),
        "ingest_streaming": _compact_ingest(ingest_streaming),
        **(
            {"ingest_wide": _compact_ingest(ingest_wide, wide=True)}
            if ingest_wide is not None
            else {}
        ),
        **(
            {
                "ingest_streaming_wide": _compact_ingest(
                    ingest_streaming_wide, wide=True
                )
            }
            if ingest_streaming_wide is not None
            else {}
        ),
        **(
            {"errors": {k: v[:80] for k, v in errors.items()}}
            if errors
            else {}
        ),
    }
    line = json.dumps(headline, separators=(",", ":"))
    keep_n = 40
    while len(line) > LINE_BUDGET and keep_n >= 0:
        keep = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:keep_n])
        rest = round(sum(t for n, t in timings.items() if n not in keep), 2)
        keep["_others"] = rest
        headline["queries"] = keep
        headline["n_queries"] = len(timings)
        line = json.dumps(headline, separators=(",", ":"))
        keep_n -= 8
    if len(line) > LINE_BUDGET and errors:
        # last resort: error DETAIL is in stderr/BENCH_STATS.json — the
        # parseable line only needs the failing names.
        headline["errors"] = {k: "err" for k in errors}
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        # unconditional final guard (advisor r8): even with no errors
        # map, four ingest blocks carrying long strings (e.g. failure
        # text) plus a fully-trimmed query map could overflow — fixed-
        # token every string inside the ingest blocks; full detail
        # lives in stderr/BENCH_STATS.json.
        for key in (
            "ingest",
            "ingest_wide",
            "ingest_streaming",
            "ingest_streaming_wide",
        ):
            blk = headline.get(key)
            if isinstance(blk, dict):
                headline[key] = {
                    k: ("err" if isinstance(v, str) and len(v) > 16 else v)
                    for k, v in blk.items()
                }
        line = json.dumps(headline, separators=(",", ":"))
    return line


def main() -> None:
    spark = get_spark("quacfka-spark-bench")
    queries = get_queries()
    # Warmup: JVM + codegen + parquet footer caches.
    queries["q01_scan_count"](spark, SF_DIR).collect()

    # Ingest throughput — the reference's headline metric (BASELINE.md:
    # 806k total rows/s on 60 CPUs) — runs in a SUBPROCESS with its own
    # JVM: query jobs and ingest jobs measurably degrade each other's
    # session (JIT/GC aging), and the reference's run owned its process.
    import subprocess

    try:
        try:
            proc = subprocess.run(
                [sys.executable, "-m", "quacfka_spark.bench_ingest"],
                capture_output=True,
                text=True,
                timeout=420,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            stdout = proc.stdout
        except subprocess.TimeoutExpired as te:
            # the subprocess emits a complete JSON line after EACH block,
            # so a kill mid-run still leaves the finished blocks on the
            # last complete line
            stdout = (te.stdout or b"")
            if isinstance(stdout, bytes):
                stdout = stdout.decode("utf-8", "replace")
        lines = [ln for ln in stdout.strip().splitlines() if ln.startswith("{")]
        ingest_out = json.loads(lines[-1])
        ingest = ingest_out.get("ingest", {"error": "missing"})
        ingest_wide = ingest_out.get("ingest_wide", {"error": "missing"})
        ingest_streaming = ingest_out.get("ingest_streaming", {"error": "missing"})
        ingest_streaming_wide = ingest_out.get(
            "ingest_streaming_wide", {"error": "missing"}
        )
        for label, rep in (
            ("ingest", ingest),
            ("ingest_wide", ingest_wide),
            ("ingest_streaming", ingest_streaming),
            ("ingest_streaming_wide", ingest_streaming_wide),
        ):
            if "total_rows_per_second" in rep:
                print(
                    f"# {label}: {rep['total_rows_per_second']:,.0f} rows/s"
                    f" {rep.get('mb_per_second', 0):,.0f} MB/s",
                    file=sys.stderr,
                )
    except Exception as e:  # pragma: no cover — bench must still emit JSON
        ingest = ingest_streaming = {"error": str(e)[:200]}
        ingest_wide = ingest_streaming_wide = {"error": str(e)[:200]}

    # Re-warm after the ingest subprocess: the main session idled for
    # minutes while the ingest JVM owned the machine, and billing its
    # re-warm (OS caches, JIT re-profiling) to the first timed queries
    # skewed them 4-8x vs steady state.
    queries["q01_scan_count"](spark, SF_DIR).collect()
    queries["q04_hash_agg"](spark, SF_DIR).collect()

    # Best of PASSES per query: single-shot numbers on a shared machine
    # swing 2-4x with JIT/GC/page-cache state; the min of two passes is
    # the steady-state throughput the reference's warm benchmark
    # reports. Pass 1 is a full cold sweep, so plan+codegen time still
    # shows up there if a query never gets faster.
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    def time_one(name: str) -> None:
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            # noop sink materializes every output column (a bare
            # count() would let Catalyst prune the projections we
            # measure).
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # one broken query must not lose the run
            errors[name] = str(e)[:200]
            # a query that succeeded on an earlier pass but errors now
            # is FAILED, not benchmarked — drop the stale timing so it
            # can't be double-counted in both queries and errors
            samples.pop(name, None)
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            return
        t = round(time.perf_counter() - t0, 4)
        samples.setdefault(name, []).append(t)
        print(f"# {name}: {t:.3f}s", file=sys.stderr)

    for _ in range(PASSES):
        for name in HEADLINE:
            if name not in errors:
                time_one(name)

    # Headline number stays best-of-N (steady-state throughput on a VM
    # with 2-4x run-to-run swing), but median/max ride along per query so
    # a genuine tail regression can't hide behind "variance".
    import statistics

    # 2dp on the stdout line: per-query precision beyond that is VM
    # noise, and the driver's tail capture is 2000 chars — full 4dp
    # detail lives in BENCH_STATS.json / stderr
    timings = {n: round(min(ts), 2) for n, ts in samples.items()}
    stats = {
        n: {
            "best": min(ts),
            "median": round(statistics.median(ts), 4),
            "max": max(ts),
            "n": len(ts),
        }
        for n, ts in samples.items()
    }
    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_str) if sf_str.replace(".", "").isdigit() else sf_str
    value = round(sum(min(ts) for ts in samples.values()), 4)
    # Pass-agreement evidence (rides the parsed line): med_total is the
    # sum of per-query MEDIANS, max_total of maxes; med_total/value near
    # 1.0 means the passes agree and value is trustworthy.
    spread = {
        "med_total": round(
            sum(statistics.median(ts) for ts in samples.values()), 1
        ),
        "max_total": round(sum(max(ts) for ts in samples.values()), 1),
    }

    # Full detail (per-query best/median/max + untrimmed ingest reports)
    # goes to stderr and a side file, never the parsed stdout line.
    full = {
        "metric": "headline_query_wall_time",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "spread": spread,
        "query_stats": stats,
        "ingest": ingest,
        "ingest_wide": ingest_wide,
        "ingest_streaming": ingest_streaming,
        "ingest_streaming_wide": ingest_streaming_wide,
        **({"errors": errors} if errors else {}),
    }
    print(json.dumps(full), file=sys.stderr)
    # BENCH_STATS.json is a LOCAL scratch artifact (gitignored,
    # untracked): every bench invocation — builder or driver —
    # overwrites it, so a tracked copy would silently diverge from the
    # committed record (round-6 verdict finding). The committed record
    # is the driver's BENCH_r{N}.json.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_STATS.json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass
    print(
        build_headline_line(
            timings,
            sf,
            ingest,
            ingest_streaming,
            errors,
            value=value,
            ingest_wide=ingest_wide,
            ingest_streaming_wide=ingest_streaming_wide,
            spread=spread,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
