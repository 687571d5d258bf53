#!/usr/bin/env bash
# Differential subquery fuzz, one round per seed:
#   1. tools/fuzzgen.py 400 <seed>       generate 400 queries
#   2. graft.tools.FuzzDump              run them through the engine
#   3. tools/check.py                    compare every result with DuckDB
#   4. tools/plancheck.py                check the plan rules
# Prints FuzzDump's "ran N ok, skipped M" line and both verdicts per
# seed; exits non-zero if any seed has a check or plancheck failure.
#
# Usage (from the repo root):
#   SPARK_GRAFT_SF_DIR=<testdata dir, e.g. sf0.001> tools/fuzz.sh <seed>...
# Queries, results and logs go to $TMPDIR/graft-fuzz (default /tmp).
set -u -o pipefail

if [ $# -eq 0 ]; then
  echo "usage: SPARK_GRAFT_SF_DIR=<testdata dir> $0 <seed>..." >&2
  exit 2
fi
sf_dir="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to a generated testdata directory}"
out="${TMPDIR:-/tmp}/graft-fuzz"
mkdir -p "$out"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
sbt_run() { sbt --batch -Dsbt.log.noformat=true "$@"; }

sbt_run compile > "$out/compile.log" 2>&1 || {
  echo "compile failed (see $out/compile.log)" >&2
  exit 1
}

failed=0
for seed in "$@"; do
  q="$out/fz_$seed.tsv"
  dump="$out/fz_$seed"
  python3 tools/fuzzgen.py 400 "$seed" > "$q"
  rm -rf "$dump"
  if ! sbt_run "runMain graft.tools.FuzzDump $q $sf_dir $dump" \
      > "$out/fz_$seed.log" 2>&1; then
    echo "seed $seed: FuzzDump failed (see $out/fz_$seed.log)"
    failed=1
    continue
  fi
  ran=$(grep -o '\[fuzz\] ran .*' "$out/fz_$seed.log" | tail -1)
  python3 tools/check.py "$sf_dir" "$dump" > "$out/check_$seed.txt"
  check_rc=$?
  python3 tools/plancheck.py "$dump" > "$out/plancheck_$seed.txt"
  plan_rc=$?
  echo "seed $seed: $ran | check: $(tail -1 "$out/check_$seed.txt")" \
    "| plancheck: $(tail -1 "$out/plancheck_$seed.txt")"
  if [ $check_rc -ne 0 ] || [ $plan_rc -ne 0 ]; then
    grep -v '^PASS' "$out/check_$seed.txt" | grep -v '^$' | head -20
    grep '^\(PLAN\|CART\)' "$out/plancheck_$seed.txt" | head -20
    failed=1
  fi
done
exit $failed
