#!/usr/bin/env bash
# Round-16 VERDICT directive 1: adjudicate the seven-query step-up with
# a direct HEAD-vs-269256f A/B on ONE box, same data, interleaved.
#
# Runs the judge's 11-query subset (4 flat controls + the 7 queries the
# r15 judge measured persistently hot vs the r13a record): each (query,
# build) pair gets its own fresh JVM (plain `java`, no sbt overhead) so
# every time is a standalone measurement; builds alternate PER QUERY
# within a rep, and the build order flips between reps so neither build
# systematically runs second-on-a-warm-box. Bench with a single-query
# arg reports the median of 3 in-JVM runs plus its own calib/spin
# sentinels, so each JVM self-reports contamination.
#
# usage: tools/run_ab.sh [reps]     (default 3)
# prereq: HEAD compiled in /root/repo, 269256f compiled in /tmp/r13
#         (git worktree add /tmp/r13 269256f && (cd /tmp/r13 && sbt compile))
# output: /tmp/ab_r16/<query>_<build>_rep<i>.json + .log
# summarize: python3 tools/summarize_ab.py > records/ab_r16.json
set -u
cd "$(dirname "$0")/.."
REPS=${1:-3}
HEAD_CLASSES=/root/repo/target/scala-2.13/classes
OLD_CLASSES=/tmp/r13/target/scala-2.13/classes
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
OUT=/tmp/ab_r16
mkdir -p "$OUT"

QUERIES=(
  q01_pricing_summary q80_fuzzy_title_pairs q128_triangles q138_profile
  x14_embedding_neardup x18_dedup_verdicts x24_semdedup q75_kn_trigram_lm
  q102_pagerank q176_pagerank_weighted x43_suffix_resume
)

ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run_one() { # $1=build(head|old) $2=query $3=rep
  local classes=$HEAD_CLASSES
  [ "$1" = old ] && classes=$OLD_CLASSES
  local tag="${2}_${1}_rep${3}"
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT="$OUT/$tag.json" \
  java $ADDOPENS -Xmx24g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -cp "$classes:/opt/spark/jars/*" graft.Bench "$2" \
    > "$OUT/$tag.log" 2>&1
  local t
  t=$(python3 -c "import json;d=json.load(open('$OUT/$tag.json'));print(list(d['queries'].values())[0])" 2>/dev/null || echo FAIL)
  echo "  rep$3 $1 $2: $t s"
}

# probe gate: kernel median must sit inside the committed quiet band
echo "=== probe gate (CalibProbe 8, HEAD classes)"
SPARK_GRAFT_CPUS=32 java $ADDOPENS -Xmx24g -cp "$HEAD_CLASSES:/opt/spark/jars/*" \
  graft.tools.CalibProbe 8 > "$OUT/probe_pre.log" 2>&1
grep -E "^(calib runs|median)" "$OUT/probe_pre.log"
PM=$(grep "^median" "$OUT/probe_pre.log" | awk '{print $2}')
python3 -c "import sys; sys.exit(0 if float('$PM') <= 0.56 else 1)" || {
  echo "PROBE GATE FAILED: kernel median $PM > 0.56 (sf0.1 quiet p90) — box not quiet, aborting"
  exit 2
}
echo "probe gate OK: median $PM in-band"

for rep in $(seq 1 "$REPS"); do
  echo "=== rep $rep"
  for q in "${QUERIES[@]}"; do
    if [ $((rep % 2)) -eq 1 ]; then
      run_one head "$q" "$rep"; run_one old "$q" "$rep"
    else
      run_one old "$q" "$rep"; run_one head "$q" "$rep"
    fi
  done
done

echo "=== probe gate (post)"
SPARK_GRAFT_CPUS=32 java $ADDOPENS -Xmx24g -cp "$HEAD_CLASSES:/opt/spark/jars/*" \
  graft.tools.CalibProbe 8 > "$OUT/probe_post.log" 2>&1
grep -E "^(calib runs|median)" "$OUT/probe_post.log"
echo "done — summarize with: python3 tools/summarize_ab.py"
