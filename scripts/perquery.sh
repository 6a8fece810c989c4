#!/bin/bash
# Fresh-JVM per-query profile: one bare `java` per query (no sbt between
# runs) runs `graft.Profile query` and appends its JSON line to
# BENCH/perquery_<tag>.jsonl. Run `sbt -batch compile` first.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="${1:-r4}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
QUERIES="${QUERIES:-q01_agg q02_filter q03_join q06_window q11_grouped_topk q12_dedup_exact q13_token_count q18_minhash_sig q20_simhash q23_ann_top1 q27_lsh_jaccard q33_dedup_clusters q34_mlm_pairs q36_ann_recall q46_repetition q48_contamination q53_asof_join q60_percentiles q61_bloom_prune q62_kmeans_int q63_topk_pruned q70_hist_quantile q71_fuzzy_tokens q73_setsim_prefix q104_setsim_dedup_first q74_bpe_merges q76_snapshot_diff q77_salted_join q78_range_join q79_inverted_index q80_rollup q81_sliding_window q82_pivot q84_exists_subquery q85_set_ops q86_split_assign q87_bm25 q88_cms_grouped q89_raw_ner q90_chunking q91_freq_spectrum q92_novelty q93_pii_redact q94_kmv_windowed q95_audio_stats q96_audio_energy q97_pq_adc q98_dup_spans q99_sq8_ann q100_neardup_gate q101_subj_lookup q105_spo_lookup q106_obj_lookup q102_ctx_linking q103_ivf_pq q107_ivf_pq_refine q108_semantic_dedup q109_dsir_select q110_curation_funnel q111_semantic_clusters}"
OUT="BENCH/perquery_${TAG}.jsonl"
for q in $QUERIES; do
  echo "== $q"
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Profile query "$q" 2>/dev/null | grep '^{' | tee -a "$OUT"
done
