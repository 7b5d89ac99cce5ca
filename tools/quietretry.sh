#!/bin/bash
# Retry a subset bench until its load_start reads quiet (< 0.7) — the box
# is co-tenant and spikes mid-run; a run whose start is loaded is
# discarded (load_end is reported but not gated, see below). Usage:
#   GRAFT_BENCH_ONLY=... tools/quietretry.sh [max_attempts]
set -uo pipefail
MAX="${1:-6}"
for i in $(seq 1 "$MAX"); do
  while :; do
    L=$(awk '{print $1}' /proc/loadavg)
    awk -v l="$L" 'BEGIN{exit !(l < 0.7)}' && break
    sleep 30
  done
  OUT=$(SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
        SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
        tools/quietbench.sh graft.Bench 2>/dev/null | head -1)
  LS=$(echo "$OUT" | python3 -c 'import json,sys; d=json.load(sys.stdin); print(d["load_start"], d["load_end"])' 2>/dev/null)
  S=$(echo "$LS" | awk '{print $1}'); E=$(echo "$LS" | awk '{print $2}')
  # load_end is NOT gated: with the round-18 scan fan-out the bench's own
  # local[N] threads legitimately saturate the box, so load_end tracks
  # the bench itself; load_start (read before the session spun up) stays
  # the only co-tenancy signal, same as Bench's own warning.
  if awk -v s="$S" 'BEGIN{exit !(s < 0.7)}'; then
    echo "$OUT"
    exit 0
  fi
  echo "[quietretry] attempt $i discarded (load_start=$S load_end=$E)" >&2
done
echo "[quietretry] no quiet run in $MAX attempts; last:" >&2
echo "$OUT"
exit 1
