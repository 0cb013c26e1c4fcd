#!/usr/bin/env bash
# Round-close preflight — run before every PERF/SURVEY commit so a
# round can never be declared closed on a build that does not compile
# (round 4 shipped exactly that: a scaladoc `*/` broke the build and no
# validation ran all round).
#
#   tools/preflight.sh          # compile main + tests + perfbench unit
#                               #   tests + entry-count pin
#   tools/preflight.sh --full   # + graft.Verify at sf0.01 replayed in DuckDB
#   tools/preflight.sh --anchor # + DuckDB anchor vs the 2x bar (needs a
#                               #   fresh sf0.1 oracle dump + Spark bench;
#                               #   see ANCHOR_* env overrides below)
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile Test/compile

# the benchmark's own logic (generators, percentile math, compare
# verdicts): pure Python, a few seconds
python3 -m unittest discover -s perfbench -p 'test_*.py'

# Entry-count pin (VERDICT r10 #6: the SURVEY prose entry count drifted
# from the generated surface two rounds running). The ONE source of
# truth is SparkEntry.queries.size, read from the compiled classes;
# SURVEY.md must carry a literal "Entry count: <N>" line that matches,
# and the newest CHECKLOCAL artifact (if any) must have replayed the
# same number of entries.
ADD_OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
  java.net java.nio java.util java.util.concurrent \
  java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
  sun.util.calendar; do printf -- "--add-opens=java.base/%s=ALL-UNNAMED " "$p"; done)
cat > /tmp/graft_preflight_count.scala <<'EOF'
println("ENTRY_COUNT=" + graft.SparkEntry.queries.size)
EOF
N=$(java $ADD_OPENS -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  scala.tools.nsc.MainGenericRunner -usejavacp -nc /tmp/graft_preflight_count.scala \
  2>/dev/null | grep ENTRY_COUNT | cut -d= -f2)
[[ -n "$N" ]] || { echo "preflight FAIL: could not read SparkEntry.queries.size"; exit 1; }
grep -q "^Entry count: $N$" SURVEY.md || {
  echo "preflight FAIL: SURVEY.md 'Entry count:' line != generated surface ($N entries)"
  grep -n "^Entry count:" SURVEY.md || echo "  (no 'Entry count:' line found)"
  exit 1
}
latest_checklocal=$(ls -t CHECKLOCAL_*.json 2>/dev/null | head -1 || true)
if [[ -n "$latest_checklocal" ]]; then
  python3 - "$latest_checklocal" "$N" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1])); n = int(sys.argv[2])
replayed = len(d.get("queries", {}))
if replayed != n:
    print(f"preflight FAIL: {sys.argv[1]} replayed {replayed} entries, surface has {n}")
    sys.exit(1)
print(f"entry-count pin OK: surface={n}, {sys.argv[1]}={replayed}")
EOF
else
  echo "entry-count pin OK: surface=$N (no CHECKLOCAL artifact yet)"
fi

if [[ "${1:-}" == "--full" ]]; then
  python3 tools/check_local.py /root/testdata/sf0.01 /tmp/verify_out
fi

# --anchor: the 2x acceptance bar as a one-command check (VERDICT r12
# #7). Inputs default to the standard round-close artifacts; override
# with ANCHOR_SF / ANCHOR_ORACLE / ANCHOR_BENCH / ANCHOR_OUT. NEVER run
# concurrently with a Spark bench (the DuckDB replay mmap budget).
if [[ "${1:-}" == "--anchor" ]]; then
  ANCHOR_SF="${ANCHOR_SF:-/root/testdata/sf0.1}"
  ANCHOR_ORACLE="${ANCHOR_ORACLE:-/tmp/verify_sf01/oracle_sql.json}"
  ANCHOR_BENCH="${ANCHOR_BENCH:-bench_out.json}"
  ANCHOR_OUT="${ANCHOR_OUT:-bench_history/anchor_latest.json}"
  [[ -f "$ANCHOR_ORACLE" ]] || {
    echo "preflight FAIL: no oracle dump at $ANCHOR_ORACLE (run graft.Verify at sf0.1 first)"; exit 1; }
  [[ -f "$ANCHOR_BENCH" ]] || {
    echo "preflight FAIL: no Spark bench at $ANCHOR_BENCH"; exit 1; }
  python3 tools/anchor.py "$ANCHOR_SF" "$ANCHOR_ORACLE" "$ANCHOR_BENCH" "$ANCHOR_OUT"
fi
echo "preflight OK"
