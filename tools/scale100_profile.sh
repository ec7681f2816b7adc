#!/bin/bash
# 100x stress measurement: TimeKeys (warm min-of-3) per SCALE.md family
# against the /tmp/graft_scale100 replica set (500k docs / 200k vecs /
# 10M events). Chunked so a failure loses one chunk, not the run.
set -u
OUT=${1:-/tmp/scale100_profile.log}
cd /root/repo
export SPARK_GRAFT_CPUS=32
{
echo "=== chunk A: embeddings + audit ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_lsh_bucket_audit q_ann_lsh q_ivf_ann q_embed_neardup q_semantic_dedup"
echo "=== chunk B: docs light ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_fingerprint_dedup q_simhash_pairs q_tfidf_top_terms"
echo "=== chunk C: docs heavy ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_minhash_pairs q_ngram_jaccard q_common_passages q_split_contamination"
echo "=== chunk D: docs capstones ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_corpus_pipeline q_dedup_funnel q_dedup_clusters"
echo "=== chunk E: events ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_rank_global q_graph_components q_sessionize q_session_window q_rolling_peak q_hourly_events q_user_retention"
echo "=== chunk F: streaming ==="
sbt "runMain graft.tools.TimeKeys /tmp/graft_scale100 3 q_streaming_hourly q_streaming_sliding q_streaming_dedup q_streaming_join"
echo "=== DONE ==="
} >"$OUT" 2>&1
