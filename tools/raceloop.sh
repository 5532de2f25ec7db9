#!/bin/bash
# Round close-out race-spec repetition (verdict r11 #9: one green run is
# weak evidence for probabilistic protocols — keep the loops in every
# round's close-out). Runs the commit-race specs N times (default 10):
# each iteration re-races 4 appenders, the 20-round barrier-synced
# writer pairs, the 4-writer catalog INSERT race, the 5-seed
# cross-verb serializability property, and two retrying transactions
# racing an appender through the shared attempt loop.
set -u
N="${1:-10}"
fails=0
for i in $(seq 1 "$N"); do
  out=$(sbt -batch \
    'testOnly graft.SourcesCatalogSpec -- -z "concurrent appenders" -z "barrier-synced"' \
    'testOnly graft.PropertySpec -- -z "serializable"' \
    'testOnly graft.TableCatalogSpec -- -z "concurrent SQL INSERTs"' \
    'testOnly graft.CommitCoreSpec -- -z "racing transactions"' 2>&1 |
    grep -E "Tests: succeeded" |
    awk -F'[ ,]+' '{for (i=1; i<NF; i++) {
        if ($i == "succeeded") s += $(i+1)
        if ($i == "failed") f += $(i+1) }} END {print s+0, f+0}')
  read -r ok bad <<<"$out"
  echo "raceloop iter $i: succeeded=$ok failed=$bad"
  if [ "${bad:-1}" != "0" ] || [ "${ok:-0}" = "0" ]; then fails=$((fails+1)); fi
done
echo "raceloop: $N iterations, $fails failing iterations"
[ "$fails" = "0" ]
