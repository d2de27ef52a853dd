#!/usr/bin/env bash
# Gate-on-the-gate: prove the differential harness (Verify + tools/check.py)
# FAILS when a query's result is wrong, for every query. One clean Verify
# run; tools/mutate.py then writes three mutated copies of its result
# files, i.e. what a miscompiled query would have written:
#   int_to_double  first integral column cast to double -> dtype-class path
#   perturb_cell   one non-null scalar cell changed      -> value path
#   drop_last_row  last row dropped                      -> row-count path
# and check.py runs on each copy. Exit 0 only when all four hold:
#   - the clean run is green on every query;
#   - p66_audio16_decode fails with "dtype mismatch" under int_to_double;
#   - p72_url_canonicalize fails with "cell mismatch" under perturb_cell;
#   - the totals: every applicable mutant of every query goes red.
# The per-query table (caught / GREEN / n/a per mutant) is $OUT.tsv.
#
# Usage: bash tools/mutation_check.sh [sfDir]
set -u
SF=${1:-/root/testdata/sf0.01}
OUT=/tmp/mutation_check
MUTANTS="int_to_double perturb_cell drop_last_row"
rm -rf "$OUT".*

sbt -batch "runMain graft.Verify $SF $OUT.clean" >/dev/null 2>&1
python3 tools/check.py "$SF" "$OUT.clean" > "$OUT.clean.log" 2>&1
N=$(python3 -c "import json, sys; print(len(json.load(open(sys.argv[1]))))" \
  "$OUT.clean/oracle_sql.json")
grep -q "^$N pass, 0 fail" "$OUT.clean.log" || {
  echo "[mutation] FAIL: clean control run not green"; tail -5 "$OUT.clean.log"; exit 1; }

python3 tools/mutate.py write "$OUT.clean" "$OUT"
for m in $MUTANTS; do
  python3 tools/check.py "$SF" "$OUT.$m" > "$OUT.$m.log" 2>&1 &
done
wait

grep -q "FAIL p66_audio16_decode: dtype mismatch" "$OUT.int_to_double.log" || {
  echo "[mutation] FAIL: dtype-class path did not trip on p66"; exit 1; }
grep -q "FAIL p72_url_canonicalize: cell mismatch" "$OUT.perturb_cell.log" || {
  echo "[mutation] FAIL: value/hash path did not trip on p72"; exit 1; }
python3 tools/mutate.py table "$OUT" > "$OUT.tsv" 2> "$OUT.totals" || {
  echo "[mutation] FAIL: a mutant stayed green:"; grep GREEN "$OUT.tsv"
  cat "$OUT.totals"; exit 1; }

echo "[mutation] gate sensitivity proven: clean = $N pass / 0 fail;" \
  "p66 dtype RED, p72 cell RED; per-query table in $OUT.tsv"
sed 's/^# /[mutation] /' "$OUT.totals"
