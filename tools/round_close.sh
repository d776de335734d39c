#!/usr/bin/env bash
# Round-close checklist — run at the round's final HEAD so the judged
# tree is self-consistent (VERDICT r10 #1) and the standing gates all
# ran where the judge reads them (r10 #4).
#
#   1. full ScalaTest suite
#   2. oracle gate: Verify + DuckDB compare at sf0.01
#   3. judged-scale bench sweep (sf0.1, local[32]) — run on a QUIET box;
#      the artifact's contended/slow_box fields and per-query cpu_s adjudicate
#   4. monster-curve exponent gate (3-point size sweep, --warn 1.3)
#   5. stage + commit every artifact the round produced (bench_out/*,
#      LEAKCHECK/COPYCHECK, any BENCH_r*/CORRECTNESS_r* the driver has
#      already written) so `git status` is clean at the judging snapshot
#
# Individual steps can be skipped when they already ran at this HEAD:
#   RC_SKIP_SUITE=1 RC_SKIP_ORACLE=1 RC_SKIP_BENCH=1 RC_SKIP_MONSTER=1
set -euo pipefail
cd "$(dirname "$0")/.."

SF001=${SF001:-/root/testdata/sf0.001}
SF01=${SF01:-/root/testdata/sf0.01}
SF1=${SF1:-/root/testdata/sf0.1}

if [[ -z "${RC_SKIP_SUITE:-}" ]]; then
  echo "== [1/5] full suite =="
  sbt -batch test
fi

if [[ -z "${RC_SKIP_ORACLE:-}" ]]; then
  echo "== [2/5] oracle gate (sf0.01) =="
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF01 /tmp/rc_verify_out"
  python3 tools/check_oracle.py "$SF01" /tmp/rc_verify_out
fi

if [[ -z "${RC_SKIP_BENCH:-}" ]]; then
  echo "== [3/5] judged-scale bench (sf0.1, local[32]) =="
  SPARK_GRAFT_SF_DIR=$SF1 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>&1 \
    | grep '"metric"'
fi

if [[ -z "${RC_SKIP_MONSTER:-}" ]]; then
  echo "== [4/5] monster-curve exponent gate =="
  # sbt|tee runs under pipefail with no guard, so an sbt failure — even
  # one after all MONSTERCURVE lines were emitted — gates red instead of
  # being masked by a trailing `|| true` on the whole pipeline; the
  # no-match grep guard is scoped to the separate count step only
  SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.tools.EmptyInputProbe $SF001 monstercurve" \
    2>&1 | tee /tmp/rc_monster.log >/dev/null
  grep -c "MONSTERCURVE ok" /tmp/rc_monster.log || true
  python3 tools/monstercurve_fit.py /tmp/rc_monster.log --warn 1.3
fi

echo "== [5/5] commit the round's artifacts =="
git add -A bench_out 2>/dev/null || true
for f in LEAKCHECK.json COPYCHECK.json BENCH_r*.json CORRECTNESS_r*.json PLANS.md; do
  # skip files covered by .gitignore (COPYCHECK.json is driver-managed
  # and deliberately ignored) — `git add` on one fails and set -e would
  # abort the close before the commit
  if [[ -e "$f" ]] && ! git check-ignore -q "$f"; then git add "$f"; fi
done
if git diff --cached --quiet; then
  echo "nothing to commit — tree already clean"
else
  git commit -m "Close round: gates re-run at HEAD; round artifacts committed

No-Verification-Needed: artifact/doc sync only — gates ran in the steps above"
fi
git status --short
echo "round_close: done"
