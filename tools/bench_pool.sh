#!/usr/bin/env bash
# Sequential bench-pool launcher (round 15) — the ONE way scaled and 1x
# pools are run, so the protocol in MEMORY/SCALING stops being prose:
#   bench_pool.sh <n_sessions> <sfDir> [runsDir] [outFile] [warmupDir]
# Defaults: runsDir=bench_runs, outFile=bench_out.json, warmupDir=<sfDir>.
# Refuses to start while another graft.Bench is running (two timed
# sessions in parallel pollute both — the round-14 incident), and runs
# sessions strictly back to back.
# -e removed (round 16): session 2 of the r16 30x pool died on a
# one-iteration executor OOM (java exits nonzero after archiving its
# partial artifact) and set -e then killed the POOL before session 3 —
# a failed session must cost one session, not the pool. Each session's
# rc is checked and logged instead.
set -uo pipefail
N="${1:?usage: bench_pool.sh <n_sessions> <sfDir> [runsDir] [outFile] [warmupDir]}"
SF="${2:?need sfDir}"
RUNS="${3:-bench_runs}"
OUT="${4:-bench_out.json}"
WARM="${5:-$SF}"

JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
--add-opens=java.security.jgss/sun.security.krb5=ALL-UNNAMED"

if ps -ef | grep "[g]raft.Bench" > /dev/null; then
  echo "FATAL: a graft.Bench session is already running — refusing to" \
       "launch a concurrent timed session" >&2
  exit 1
fi

# Sized from the host the way Tier-1 verify and perfbench/run.py size
# their sessions: one Spark core per CPU, and an explicit heap of half the
# RAM clamped to 2..8 GiB (the default 25% of RAM OOM'd one 30x iteration
# of sim_ann_lsh_index_query in r16; an explicit bound also keeps sessions
# comparable). bench_merge.py keys each pool on the core count.
CPUS="$(env -u OMP_NUM_THREADS nproc)"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo \
  || echo 2g)"

ok=0
failed=0
for i in $(seq 1 "$N"); do
  echo "[pool] session $i/$N sf=$SF runs=$RUNS warmup=$WARM cpus=$CPUS heap=$HEAP"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_RUNS="$RUNS" SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_WARMUP_SF_DIR="$WARM" \
  java "-Xmx$HEAP" -cp "target/scala-2.13/classes:/opt/spark/jars/*" $JAVA_OPTS \
    graft.Bench > /dev/null
  rc=$?
  if [ $rc -ne 0 ]; then
    failed=$((failed + 1))
    echo "[pool] session $i/$N FAILED rc=$rc (partial artifact archived;" \
         "continuing with the remaining sessions)" >&2
  else
    ok=$((ok + 1))
    echo "[pool] session $i/$N done"
  fi
done
echo "[pool] sessions ok=$ok failed=$failed"
# Continue-past-one-failure is for a flaky SESSION, not a broken build:
# with zero successes there is no fresh artifact behind $OUT (the
# headline below would be stale or missing), so the pool itself must
# fail — a caller that logs our exit status must see it, and an
# all-failed pool passing silently is how a stale headline gets committed.
if [ "$ok" -eq 0 ]; then
  echo "[pool] FATAL: all $N sessions failed — no fresh headline" >&2
  exit 1
fi
# Round 18: Bench prints per-session lines only (the in-main merge keyed
# sessions without the core count and tied the driver's artifact to
# builder-committed timings) — the pooled headline is produced here, over
# this pool's runs dir, keyed on (build, sf, cpus) of the newest session.
python3 "$(dirname "$0")/bench_merge.py" "$RUNS" "$OUT" || exit 1
echo "[pool] merged headline:"
tail -c 600 "$OUT"; echo
