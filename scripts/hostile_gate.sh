#!/usr/bin/env bash
# One-command HOSTILE-FIXTURE gate (r10): build the adversarial copy of
# an sf dir (vertical-tab whitespace, pre-1970 event times, NULL-text
# docs, periodic keeper-overlap spans — see adversarial_fixture.py),
# replay the affected gate queries through graft.Verify, and compare
# against the DuckDB oracle.
#
# The output dir is a FRESH mktemp every run — the r9 false reds came
# from re-running into a stale dir where an earlier failure's dump
# outlived the fix. Exits non-zero on any mismatch.
#
# Usage: scripts/hostile_gate.sh [src_sf_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SRC="${1:-/root/testdata/sf0.001}"
FIX="$(mktemp -d /tmp/graft-advfix.XXXXXX)"
OUT="$(mktemp -d /tmp/graft-advout.XXXXXX)"

# The canonical hostile query list: every gate query whose semantics
# the fixture's rows attack (whitespace classes, pre-epoch buckets,
# null-text coalescing, keeper-overlap excision, negative as-of time,
# sparse/negative bitmap keys, null-text docs in the near-dup cluster
# family d6/d9/d10/t26/c4), plus the stream gates that replay the
# hostile events and documents through Streams.gateDrain (e4 is not
# listed: it fails on the fixture's NULL event fields). Keep in sync
# when a new operator gains a hostile row — adversarial_fixture.py's
# docstring points here.
QUERIES="e6_stream_join,e7_stream_static,e12_stream_dedup,e13_stream_outer_join,e14_stream_merge_sink,e15_checkpoint_resume,e16_stream_full_outer_join,e20_stream_semi_join,t2_quality_score,t3_token_count,c1_curate,f1_affiliation_split,f5_cleanup,f8_whitelist_clean,an16_cohort,e10_resample,e3_sliding_window,t28_exact_spans,t30_decontaminate_spans,t31_excise_duplicates,m1_binary_meta,m2_frame_sample,m3_image_meta,m4_audio_meta,m5_interleave,m6_media_dedup,m7_jpeg_meta,an28_exact_p99,e11_stream_tumbling,e17_stream_sliding,t35_url_canon,an31_regression,j12_interval_join,j11_asof_tolerance,j13_asof_forward,j14_asof_nearest,n19_knn_classify,t38_gopher_repetition,t39_ngram_novelty,t40_tokenizer_fertility,an33_bitmap_rollup,an34_retention,d16_cc_stars,sk3_hotcold_join,e19_stream_daily_distinct,an35_bitmap_overlap,an36_bitmap_sparse,an37_dict_distinct,an38_hll_rollup,an39_vhist_quantiles,an40_dict_append,an42_tiered_rollup,an43_kmv_sample,an44_cms_rollup,e21_stream_sketch_parity,an45_dds_quantiles,an46_bitmap_churn,an47_kmv_jaccard,e22_stream_dds_parity,an48_coded_dict_merge,an49_cms_probe_multi,an50_kmv_kway,e23_stream_hll_parity,e24_stream_vhist_parity,e25_stream_kmv_parity,e26_stream_cms_parity,e27_stream_coded_parity,an51_coded_churn,an52_dict_audit,d6_dup_clusters,d9_survivorship,d10_dedup_apply,t26_leakage_safe_split,c4_curation_funnel"

echo "[hostile] building fixture from $SRC -> $FIX"
python3 scripts/adversarial_fixture.py "$SRC" "$FIX"
echo "[hostile] Verify -> $OUT"
sbt -batch "runMain graft.Verify $FIX $OUT $QUERIES"
echo "[hostile] DuckDB oracle compare"
# run the oracle compare ONCE: the displayed output and the GREEN/RED
# decision must come from the same run (and the compare isn't free)
ORACLE_OUT="$(python3 scripts/check_oracle.py "$FIX" "$OUT")"
echo "$ORACLE_OUT" | tail -3
echo "$ORACLE_OUT" | tail -1 | grep -q " 0 fail" \
  && echo "[hostile] GREEN" \
  || { echo "[hostile] RED"; exit 1; }
