#!/bin/bash
# Scaling measurement for SCALING.json.
# Runs on a COLD box: datagen once, host probes, then four N->4N
# pairings (unpinned+pinned, 1->4 and 2->8) on the same corpus.
# Nothing else may run concurrently (memory-bandwidth contamination).
# Usage: bash scripts/run_scaling.sh RAW_DIR
#   then: python scripts/merge_scaling.py RAW_DIR
set -u
cd "$(dirname "$0")/.."
OUT=${1:?usage: run_scaling.sh RAW_DIR}
mkdir -p "$OUT"
CORPUS=/root/scale_corpus_r5
export SCALE_ENTITIES=240000 SCALE_HOT_FAMILY=2000

log() { echo "[$(date +%H:%M:%S)] $*" >> "$OUT/driver.log"; }

log "bandwidth probe (pinned STREAM-like, 1/2/4/8 procs)"
python scripts/bandwidth_probe.py > "$OUT/bandwidth_probe.json" 2> "$OUT/bandwidth_probe.err"

# datagen happens inside the first pairing via --keep-input (generated
# once at full parallelism, then every level reads the same files);
# the 1-core cold baseline is the first ER job on the box
log "pairing 1: unpinned 1->4 (+machine ceiling)"
python scripts/scaling_bench.py --keep-input "$CORPUS" --levels 1 4 --ceiling \
  > "$OUT/unpinned_1_4.jsonl" 2> "$OUT/unpinned_1_4.err"
log "pairing 2: pinned 1->4"
python scripts/scaling_bench.py --keep-input "$CORPUS" --levels 1 4 --pin \
  > "$OUT/pinned_1_4.jsonl" 2> "$OUT/pinned_1_4.err"
log "pairing 3: unpinned 2->8 (+machine ceiling)"
python scripts/scaling_bench.py --keep-input "$CORPUS" --levels 2 8 --ceiling \
  > "$OUT/unpinned_2_8.jsonl" 2> "$OUT/unpinned_2_8.err"
log "pairing 4: pinned 2->8"
python scripts/scaling_bench.py --keep-input "$CORPUS" --levels 2 8 --pin \
  > "$OUT/pinned_2_8.jsonl" 2> "$OUT/pinned_2_8.err"
log "bandwidth probe repeat (post-run, detects thermal drift)"
python scripts/bandwidth_probe.py > "$OUT/bandwidth_probe_post.json" 2>> "$OUT/bandwidth_probe.err"
log "done"
