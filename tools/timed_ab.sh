#!/bin/bash
# Load-gated `Probe time` runner for the noisy-neighbor box (r21 protocol):
# waits for 1-min loadavg < 0.5 (up to 90x10 s; a timed-out wait is
# logged and the try launches anyway), runs `Probe time` min-of-4 on the given
# queries (x_vocab_stats control always prepended), and accepts the session
# only if the control min is <= $CONTROL_MAX (default 0.30 s; committed
# uncontended band is 0.19-0.28). Retries up to $TRIES sessions.
# usage: tools/timed_ab.sh OUT_FILE QUERY [QUERY...]
set -u
OUT="$1"; shift
TRIES=${TRIES:-6}
CONTROL_MAX=${CONTROL_MAX:-0.30}
for t in $(seq 1 "$TRIES"); do
  gated=0
  for i in $(seq 1 90); do
    awk '{exit !($1 < 0.5)}' /proc/loadavg && { gated=1; break; }
    sleep 10
  done
  [ "$gated" = 1 ] || echo "[timed_ab] WARNING: try $t load gate timed out after 90x10 s; launching anyway" >&2
  echo "[timed_ab] try $t launching at load $(cut -d' ' -f1 /proc/loadavg)" >&2
  SPARK_GRAFT_BENCH_RUNS=4 sbt "runMain graft.examples.Probe time /root/testdata/sf0.1 x_vocab_stats $*" 2>/dev/null \
    | grep TIME_MIN > "$OUT.try$t"
  CTRL=$(awk '$2=="x_vocab_stats"{print $3}' "$OUT.try$t")
  if [ -n "$CTRL" ] && awk -v c="$CTRL" -v m="$CONTROL_MAX" 'BEGIN{exit !(c <= m)}'; then
    cp "$OUT.try$t" "$OUT"
    echo "[timed_ab] ACCEPTED try $t control=$CTRL" >&2
    exit 0
  fi
  echo "[timed_ab] rejected try $t control=${CTRL:-missing}" >&2
done
echo "[timed_ab] no clean session in $TRIES tries" >&2
exit 1
