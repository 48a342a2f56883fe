#!/bin/bash
# Cross-process lease CADENCE evidence (r12 verdict item 7): the single-JVM
# endurance run (CROSSOVER.md, "Round 11: a month of nights") showed the
# append cadence stays flat over 32 nightly cycles; this runs the same
# question at the lease machinery's actual deployment shape — two REAL JVMs
# (plain `java -cp`, no sbt) sharing one layout warehouse, each driving N
# appendOnce calls on a fixed interval under distinct tags, process A also
# folding compactIfFragmented in every 10 appends so real maintenance joins
# the contention mix. MPROBE_WAIT_MS parks lease losers behind the live
# holder; an unexpected refusal crashes the probe mid-loop, which the missing
# `cadence_done` line turns into a hard failure. Afterwards an independent
# third JVM recomputes expected content FROM SOURCE (base slices 0-5 plus N
# copies each of slice 6 and slice 7) and the script reports per-process
# first-half vs second-half median append latency — the flatness observable.
# Usage: tools/lease_cadence.sh [N] [INTERVAL_MS]   (from /root/repo, compiled)
set -u
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
SF=/root/testdata/sf0.001
N=${1:-30}
INT=${2:-2000}
ROOT=$(mktemp -d /tmp/graft_cadence.XXXXXX)
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
JAVA="java $ADD_OPENS -Xmx2g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp $CP graft.tools.MaintainerProbe"
OUT=$ROOT/out; mkdir -p "$OUT"
echo "warehouse root: $ROOT  (N=$N appends/process, interval ${INT}ms)"

fail() { echo "FAIL: $1"; exit 1; }
mp() { grep -h '^MPROBE' "$@" | sed 's/^MPROBE //'; }

$JAVA prepare "$ROOT" "$SF" > "$OUT/prepare.log" 2>&1 || fail "prepare crashed"

MPROBE_WAIT_MS=120000 MPROBE_COMPACT_EVERY=10 \
  $JAVA cadence "$ROOT" "$SF" 6 "$N" "$INT" cadA > "$OUT/cad_a.log" 2>&1 &
PA=$!
MPROBE_WAIT_MS=120000 \
  $JAVA cadence "$ROOT" "$SF" 7 "$N" "$INT" cadB > "$OUT/cad_b.log" 2>&1 &
PB=$!
wait $PA || fail "process A crashed (refusal or error mid-cadence)"
wait $PB || fail "process B crashed (refusal or error mid-cadence)"

for p in a b; do
  DONE=$(mp "$OUT/cad_$p.log" | grep -c '"mode":"cadence_done"')
  [ "$DONE" = "1" ] || fail "process $p never finished its cadence"
  mp "$OUT/cad_$p.log" | grep '"mode":"cadence_done"' | grep -q "\"applied\":$N" \
    || fail "process $p applied fewer than $N batches"
done

$JAVA check "$ROOT" "$SF" "slices=0-5,6x$N,7x$N" > "$OUT/check.log" 2>&1 \
  || fail "check crashed"
CHK=$(mp "$OUT/check.log"); echo "$CHK"
echo "$CHK" | grep -q '"content_ok":true' || fail "content wrong (lost or doubled appends)"
echo "$CHK" | grep -q '"certified":true' || fail "family not certified"

# flatness: median append latency, first half vs second half, per process —
# the cross-process analogue of the endurance probe's flat nightly cadence.
# Guard is loose (2x + 1 s) to stay robust to machine noise; the medians are
# the CROSSOVER-recorded observable.
for p in a b; do
  mp "$OUT/cad_$p.log" | grep '"mode":"cadence"' \
    | sed 's/.*"append_ms":\([0-9]*\).*/\1/' > "$OUT/lat_$p.txt"
  # no `|| exit` here: the $?-guard below must run so a failed flatness
  # check prints the FAIL message with the log pointer (r13 ADVICE: the
  # inline exit made that guard dead code)
  python3 - "$p" "$OUT/lat_$p.txt" <<'EOF'
import statistics, sys
p, f = sys.argv[1], sys.argv[2]
xs = [int(l) for l in open(f) if l.strip()]
h = len(xs) // 2
m1, m2 = statistics.median(xs[:h]), statistics.median(xs[h:])
print(f"process {p}: n={len(xs)} median_first_half={m1:.0f}ms "
      f"median_second_half={m2:.0f}ms max={max(xs)}ms")
if m2 > 2 * m1 + 1000:
    print(f"FAIL: process {p} cadence degraded ({m1:.0f} -> {m2:.0f} ms)")
    sys.exit(1)
EOF
  [ $? -eq 0 ] || fail "cadence flatness check failed for process $p"
done
COMPACTS=$(mp "$OUT/cad_a.log" | grep -c '"compacted":true')
echo "ALL OK: $((2*N)) cross-process appends, $COMPACTS mid-cadence compactions, content exact (logs in $OUT)"
