#!/bin/bash
# Round-closing gate check: run the bench, scaling and recall gates
# against the artifacts as committed, and print one summary line whose
# content is MECHANICAL - paste it into ROADMAP verbatim. The claim must
# come from the gates, not from memory of an earlier in-session run.
#
# The gate line is only meaningful AT FINAL HEAD, so this script refuses
# a dirty work tree and refuses any artifact (bench record, scaling
# sweep, recall curves) older than the last commit touching measured
# code - "last code commit, then gates, then snapshot" is enforced, not
# recalled.
#
# Usage: tools/close_round.sh <prev full bench record>
#   e.g. tools/close_round.sh bench_full_pr7.json
# The full record (not a compact BENCH_rN.json wrapper) is required: it
# carries the per-entry spreads the VAR recurrence rule needs and the
# fingerprints the FPRT check compares. Both records must be timed the
# same way ("timed_to"), else check_bench exits 2 and the gate FAILs.
set -u
cd "$(dirname "$0")/.."
PREV="${1:?usage: close_round.sh <prev full bench record, e.g. bench_full_pr7.json>}"

if [ -n "$(git status --porcelain)" ]; then
  echo "REFUSED: work tree dirty - commit (or stash) everything first;"
  echo "the gate line must describe FINAL HEAD, nothing in between."
  git status --porcelain | head -10
  exit 2
fi
# each artifact must postdate the last commit touching MEASURED code
# (src/ + build config): docs, telemetry, and gate-script commits after
# the bench don't change what the JVM ran, code commits do
CODE_T=$(git log -1 --format=%ct -- src build.sbt project)
# an empty/non-numeric CODE_T would make the -le test an arithmetic
# error whose false result fails OPEN - refuse instead
case "$CODE_T" in
  ''|*[!0-9]*)
    echo "REFUSED: cannot determine last src/build commit time (git log"
    echo "returned '$CODE_T') - artifact freshness is unverifiable."
    exit 2;;
esac
for f in target/bench_last.json target/scaling.json target/ann_recall.json; do
  if [ "$(stat -c %Y "$f" 2>/dev/null || echo 0)" -le "$CODE_T" ]; then
    echo "REFUSED: $f is missing or predates the last src/build commit"
    echo "($(git log -1 --format=%h -- src build.sbt project)) - rerun the full bench AT that code, then close."
    exit 2
  fi
done

python3 tools/check_bench.py target/bench_last.json "$PREV" > target/gate_bench.txt 2>&1
B=$?
python3 tools/check_bench.py --scaling target/scaling.json > target/gate_scaling.txt 2>&1
S=$?
python3 tools/check_bench.py --recall target/ann_recall.json > target/gate_recall.txt 2>&1
R=$?

st() { if [ "$1" -eq 0 ]; then echo OK; else echo FAIL; fi; }
RATIO=$(grep -oE 'total: .*\(([0-9.]+)x\)' target/gate_bench.txt | grep -oE '[0-9.]+x' | tail -1)
echo "gates @ $(git rev-parse --short HEAD): BENCH $(st $B) vs $PREV ${RATIO:-?}, SCALING $(st $S), RECALL $(st $R)"
for f in gate_bench gate_scaling gate_recall; do
  echo "--- $f"
  grep -E 'INCOMPARABLE|REGRESS|SUPER|VAR |SLOW |GONE |FPRT |ERR |LOW |MISS|RECALL OK|SCALING OK|OK$' "target/$f.txt" | tail -8
done
exit $(( B + S + R ))
