#!/bin/bash
# Three-leg bench campaign: the full sf0.1 map (Bench's default dataset),
# the organic sf1 map, and the 100x heavy subset. Each leg writes its own
# map, history/bench_<leg>_<tag>.json, via SPARK_GRAFT_BENCH_OUT
# (an ad-hoc run cannot stomp a campaign artifact), and keeps its stdout
# and stderr under target/bench_<tag>/ (a campaign-only failure is
# undiagnosable without the leg's stderr).
#
# Usage: tools/bench_campaign.sh <tag>
# Needs target/scratch/sf1 (tools/gen_sf1.py) and target/scratch/sf10sim
# (tools/make_sf10.py, then tools/make_sf100.py).
set -uo pipefail
if [ $# -ne 1 ]; then echo "usage: $0 <tag>" >&2; exit 2; fi
TAG=$1
cd "$(dirname "$0")/.."
LOGS=target/bench_$TAG
mkdir -p "$LOGS"
set -x

SPARK_GRAFT_BENCH_OUT=history/bench_sf01_$TAG.json \
  sbt -batch "runMain graft.Bench" > "$LOGS/sf01.stdout" 2> "$LOGS/sf01.stderr"

SPARK_GRAFT_BENCH_OUT=history/bench_sf1_$TAG.json SPARK_GRAFT_SF_DIR=target/scratch/sf1 \
  sbt -batch "runMain graft.Bench" > "$LOGS/sf1.stdout" 2> "$LOGS/sf1.stderr"

HEAVY=an04_window_topn,an31_window_nav,an35_scd2,an39_column_stats,an48_pagerank,\
an63_equidepth_hist,an69_rolling_90d,dd03_minhash_lsh,dd06_cc_cluster,\
dd16_winnow_fingerprint,dd20_edit_distance,dd21_incremental_dedup,\
dd22_dup_span_coverage,dd23_served_band_index,dd24_band_index_maintenance,\
ic47_zorder_write,ic76_sql_iceberg_mor_delete,ic77_sql_iceberg_mor_update,\
ic78_sql_iceberg_mor_merge,ic79_sql_iceberg_eq_delete_read,ic80_sql_persistent_view,\
ic81_sql_iceberg_sparse_id_update,ic85_sql_eq_delete_maintenance,ic88_position_deletes_table,\
ic89_partition_evolution,ic90_type_promotion,ic91_sql_merge_not_matched_by_source,\
ic92_rename_drop_column,ic93_cherrypick_snapshot,ic94_native_meta_tables,\
ic95_sql_wap,ic96_nested_alter,ic97_native_sql_alter,\
mm03_decode,mm13_dhash,pp02_pack,pp07_neardup_curation,sm08_kmeans_iter,\
sm20_ivf_pq_search,sm25_ivf_index_build,sm32_ivfpq_index_search,st01_stream_hourly,\
st04_stream_join,st21_stream_mor_source,st22_stream_dedup_probe,tx08_tfidf,\
tx11_segment_dedup,tx26_lang_profile_overlap,tx29_bpe_apply
SPARK_GRAFT_BENCH_OUT=history/bench_sf10sim_$TAG.json \
SPARK_GRAFT_ONLY=$HEAVY SPARK_GRAFT_SF_DIR=target/scratch/sf10sim \
  sbt -batch "runMain graft.Bench" > "$LOGS/sf10sim.stdout" 2> "$LOGS/sf10sim.stderr"
set +x

# record-integrity gate: a map that does not parse or reports a failure
# fails the campaign, and a failed leg prints its stderr tail so the cause
# ships with the record
python3 - "$TAG" "$LOGS" <<'PY'
import json, sys
tag, logs = sys.argv[1], sys.argv[2]
bad = False
for leg in ("sf01", "sf1", "sf10sim"):
    f = f"history/bench_{leg}_{tag}.json"
    try:
        m = json.load(open(f))
    except Exception as e:
        print(f"{f}: UNPARSEABLE: {e}"); bad = True; continue
    n = len(m.get("queries", {}))
    print(f"{f}: total={m.get('value')}s n_queries={n} failed={m.get('failed')}")
    if m.get("failed", 0) != 0:
        bad = True
        print(f"--- {leg} stderr tail (failure forensics) ---")
        print(open(f"{logs}/{leg}.stderr").read()[-4000:])
sys.exit(1 if bad else 0)
PY
echo CAMPAIGN_DONE
