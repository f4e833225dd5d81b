#!/bin/bash
# TRUE two-process commit rehearsal (VERDICT r13 task 6): two SEPARATE
# JVMs — plain `java`, no sbt, each its own SparkSession and in-memory
# catalog, nothing shared but the filesystem — ingest concurrently into
# one state log; a third process then checks dense unique gen_ids, every
# batch exactly once, zero claim residue, and final state == a scratch
# replay. Exercises StateLog.attach + the filesystem claim CAS for real.
#
# Usage: tools/two_process_drill.sh   (from anywhere; ~3-6 min)
# Requires: sbt compile already run (target/scala-2.13/classes present).
set -euo pipefail
cd "$(dirname "$0")/.."

CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
JVM_OPTS=(
  -Xmx3g
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
  -Djdk.reflect.useDirectMethodHandleAccessor=false
)
WORK=$(mktemp -d /tmp/graft_2proc.XXXXXX)
echo "[drill] workdir: $WORK"

run() { java "${JVM_OPTS[@]}" -cp "$CP" graft.TwoProcessDrill "$@"; }
# Background drill JVMs start through `spawn`, which runs in this shell
# and backgrounds java itself, so `$!` is the JVM's pid: a `run ... &`
# would background a subshell, and a kill -9 on its pid would leave the
# java process alive. Every spawned pid is recorded for the final check.
STARTED=()
spawn() { java "${JVM_OPTS[@]}" -cp "$CP" graft.TwoProcessDrill "$@" & STARTED+=("$!"); }
# ALIVE := the spawned pids that are still drill JVMs.
alive() {
  ALIVE=()
  local p
  for p in "${STARTED[@]}"; do
    if ps -o args= -p "$p" 2>/dev/null | grep -q graft.TwoProcessDrill; then
      ALIVE+=("$p")
    fi
  done
}
# Every exit path, a failed check or a `set -e` abort included, reaps the
# drill JVMs still running, so no failed drill leaves one behind.
trap 'alive; if [ "${#ALIVE[@]}" -ne 0 ]; then
  echo "[drill] killing drill JVMs left alive at exit: ${ALIVE[*]}"
  kill -9 "${ALIVE[@]}" 2>/dev/null || true
fi' EXIT

run prep "$WORK"

# two REAL processes racing 4 batches each into the same log, plus a
# THIRD process checkpointing the manifest in a loop against them (the
# r13 checkpoint-under-live-committers rehearsal, cross-process), plus
# a FOURTH process running GRACED sweeps against the live writers
# (VERDICT r14 task 2): the aged foreign orphan prep planted must be
# reclaimed while no live generation is lost.
spawn ingest "$WORK" 100 4 > "$WORK/ingest_a.log" 2>&1
PA=$!
spawn ingest "$WORK" 200 4 > "$WORK/ingest_b.log" 2>&1
PB=$!
spawn checkpoint "$WORK" 12 > "$WORK/checkpoint.log" 2>&1
PC=$!
spawn sweeploop "$WORK" 10 150000 > "$WORK/sweep.log" 2>&1
PS=$!
FAIL=0
wait "$PA" || FAIL=1
wait "$PB" || FAIL=1
wait "$PC" || FAIL=1
wait "$PS" || FAIL=1
grep '\[drill\]' "$WORK/ingest_a.log" "$WORK/ingest_b.log" \
  "$WORK/checkpoint.log" "$WORK/sweep.log" || true
if [ "$FAIL" -ne 0 ]; then
  echo "[drill] FAIL: a drill process exited non-zero"; exit 1
fi

# REAL-CRASH roll-forward (VERDICT r14 task 4): a committer JVM is
# SIGKILLed INSIDE its claim-published -> manifest-append window (the
# GRAFT_TEST_HANG_AFTER_CLAIM hook announces the published claim at a
# sentinel path and hangs); the next committer must roll the dead
# claimant's batch forward AND land its own.
SENTINEL="$WORK/claim_hang.sentinel"
GRAFT_TEST_HANG_AFTER_CLAIM="$SENTINEL" spawn ingest "$WORK" 300 1 \
  > "$WORK/ingest_c.log" 2>&1
PCRASH=$!
for i in $(seq 1 240); do
  [ -f "$SENTINEL" ] && break
  if ! kill -0 "$PCRASH" 2>/dev/null; then
    echo "[drill] FAIL: the crash-target committer died before its claim"
    exit 1
  fi
  sleep 1
done
if [ ! -f "$SENTINEL" ]; then
  echo "[drill] FAIL: crash-target never published its claim"; kill -9 "$PCRASH"; exit 1
fi
kill -9 "$PCRASH"
wait "$PCRASH" 2>/dev/null || true
echo "[drill] SIGKILLed committer pid=$PCRASH inside the claim->append window"

run ingest "$WORK" 400 1 > "$WORK/ingest_d.log" 2>&1
grep '\[drill\]' "$WORK/ingest_d.log" || true
if ! grep -q 'rolling claim for generation' "$WORK/ingest_d.log"; then
  echo "[drill] FAIL: the survivor never rolled the dead claim forward"; exit 1
fi
echo "[drill] observed a REAL roll-forward of the SIGKILLed committer's claim"

run check "$WORK" "100,101,102,103,200,201,202,203,300,400"

# CHECKPOINT-CRASH recovery (r15): SIGKILL a checkpointer between its
# merged-file publish and its superseded-file deletes — the one window
# that leaves residue (duplicate rows across old + merged files). The
# log must stay readable (history() collapses byte-identical rows) and
# the NEXT checkpoint must merge the residue down to one file.
CKPT_SENTINEL="$WORK/ckpt_hang.sentinel"
GRAFT_TEST_HANG_AFTER_CKPT_MERGE="$CKPT_SENTINEL" spawn checkpoint "$WORK" 1 \
  > "$WORK/ckpt_crash.log" 2>&1
PCKPT=$!
for i in $(seq 1 240); do
  [ -f "$CKPT_SENTINEL" ] && break
  if ! kill -0 "$PCKPT" 2>/dev/null; then
    # nothing to merge (manifest already at 1 file) exits cleanly
    # without the sentinel — that would be a drill-SEQUENCING bug
    echo "[drill] FAIL: checkpointer exited before its merge published"
    exit 1
  fi
  sleep 1
done
if [ ! -f "$CKPT_SENTINEL" ]; then
  echo "[drill] FAIL: checkpointer never published its merged file"; kill -9 "$PCKPT"; exit 1
fi
kill -9 "$PCKPT"
wait "$PCKPT" 2>/dev/null || true
echo "[drill] SIGKILLed checkpointer pid=$PCKPT after merge, before deletes" \
  "(merged $(cat "$CKPT_SENTINEL") files' residue left behind)"

run checkpoint "$WORK" 1 > "$WORK/ckpt_recover.log" 2>&1
grep '\[drill\]' "$WORK/ckpt_recover.log" || true
if ! grep -qE 'checkpoint 0: [0-9]+ -> 1 files' "$WORK/ckpt_recover.log"; then
  echo "[drill] FAIL: the recovery checkpoint did not merge the crash residue to one file"
  exit 1
fi
run check "$WORK" "100,101,102,103,200,201,202,203,300,400"

# GRACED VACUUM vs a LIVE AS-OF READER (VERDICT r15 task 2): fold the log
# (the supersession event), start a reader process looping GUARDED
# historical reads below the fold, age the fold's manifest row file past
# the grace window mid-loop, then run graced vacuums from a peer process
# against the live reader. The reader must resolve at least once and then
# either keep resolving or end on the clean bounded-time-travel error —
# a raw FileNotFoundException crashes it and fails the drill. (This is
# the cross-process seam: the reader's in-memory catalog never sees the
# peer's drop, so guardAsOfRead's re-check must consult the STORE.)
run fold "$WORK" > "$WORK/fold.log" 2>&1
grep '\[drill\]' "$WORK/fold.log" || true
FOLDGEN=$(grep -oE 'head gen=[0-9]+' "$WORK/fold.log" | grep -oE '[0-9]+$')
if [ -z "$FOLDGEN" ]; then echo "[drill] FAIL: fold did not report its gen"; exit 1; fi
spawn asofreader "$WORK" 1 40 > "$WORK/asof_reader.log" 2>&1
PR=$!
for i in $(seq 1 180); do
  grep -q 'resolved' "$WORK/asof_reader.log" && break
  if ! kill -0 "$PR" 2>/dev/null; then
    echo "[drill] FAIL: the as-of reader died before its first resolve"; exit 1
  fi
  sleep 1
done
if ! grep -q 'resolved' "$WORK/asof_reader.log"; then
  echo "[drill] FAIL: the as-of reader never resolved"; kill -9 "$PR"; exit 1
fi
MANIFEST=$(grep '^manifest=' "$WORK/drill.properties" | cut -d= -f2)
touch -d '1 day ago' "/tmp/${MANIFEST}_manifest/part-row-g${FOLDGEN}-"*.parquet
echo "[drill] aged fold gen=$FOLDGEN's manifest row file past the grace window"
run vacuumloop "$WORK" 4 300000 > "$WORK/vacuum.log" 2>&1 || {
  grep '\[drill\]' "$WORK/vacuum.log" || true
  echo "[drill] FAIL: the graced vacuum loop failed"; kill -9 "$PR" 2>/dev/null; exit 1
}
grep '\[drill\]' "$WORK/vacuum.log" || true
if ! wait "$PR"; then
  grep '\[drill\]' "$WORK/asof_reader.log" || true
  echo "[drill] FAIL: the as-of reader crashed (raw missing-file leaked through?)"
  exit 1
fi
grep '\[drill\]' "$WORK/asof_reader.log" || true
if ! grep -q 'BOUNDED cleanly' "$WORK/asof_reader.log"; then
  echo "[drill] FAIL: the reader never observed the clean bounded error"; exit 1
fi

# RANDOMIZED cross-process walk (r16): the in-process concurrent model
# walk taken onto REAL processes — two JVMs each drawing a SEEDED random
# op per round (ingest / retract / fold / checkpoint / zero-grace vacuum
# / graced sweep), neither knowing the other's plan, every interleaving
# arbitrated by the claim CAS alone. A fresh workdir: the fixed phases
# above assert exact batch sets this walk would perturb. The checker
# replays the COMMITTED manifest order (retractions re-derived from
# their op ids) into a scratch log and demands set-equal hash view,
# effective band, and corpus.
WORK2=$(mktemp -d /tmp/graft_2proc_rand.XXXXXX)
echo "[drill] randwalk workdir: $WORK2"
run prep "$WORK2" > "$WORK2/prep.log" 2>&1
spawn randwalk "$WORK2" 0 20260816 6 > "$WORK2/walk_a.log" 2>&1
WA=$!
spawn randwalk "$WORK2" 1 20260816 6 > "$WORK2/walk_b.log" 2>&1
WB=$!
RFAIL=0
wait "$WA" || RFAIL=1
wait "$WB" || RFAIL=1
grep '\[drill\]' "$WORK2/walk_a.log" "$WORK2/walk_b.log" || true
if [ "$RFAIL" -ne 0 ]; then
  echo "[drill] FAIL: a randomized walker exited non-zero"; exit 1
fi
run checkrand "$WORK2" > "$WORK2/checkrand.log" 2>&1 || {
  grep '\[drill\]\|requirement' "$WORK2/checkrand.log" || true
  echo "[drill] FAIL: the randomized walk's committed-order replay diverged"
  exit 1
}
grep '\[drill\]' "$WORK2/checkrand.log" || true

# no drill JVM may outlive the drill: a survivor means a kill hit the
# wrong process and a "SIGKILL" case tested a hung peer, not a dead one
# (the EXIT trap then kills them)
alive
if [ "${#ALIVE[@]}" -ne 0 ]; then
  echo "[drill] FAIL: drill JVMs still alive after the drill: ${ALIVE[*]}"
  exit 1
fi

echo "[drill] PASS: two-process rehearsal green — race + live-writer graced" \
  "sweep + SIGKILL roll-forward + checkpoint-crash recovery + graced-vacuum" \
  "live-reader retention + randomized cross-process walk (workdirs kept:" \
  "$WORK $WORK2)"
