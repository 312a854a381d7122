#!/usr/bin/env bash
# Clone-pair bench A/B — the round-18 house method for "did my code
# move the bench".
#
# WHY THIS EXISTS: the single-thread calibration probe attributes
# single-thread host drift (steal, thermal) but is BLIND to
# throughput-class contention — round 18 caught bench_diff printing
# "CODE-GLOBAL regression suspected" (ambient 1.29x, calib flat) in a
# window where the round-17 tree ITSELF re-ran 1.32x slower than its
# own stamp. The only instrument that settles code-vs-host for real is
# re-running the OLD CODE in the SAME window: build the baseline ref in
# a fresh clone, interleave full (or filtered) bench runs ref-vs-HEAD, and
# compare per-query MINS within the shared window. Round 17's
# "route count invisible" misreading happened precisely because its
# quiet-window re-measure compared against a DIFFERENT window's number;
# the interleave removes the window from the comparison.
#
# Usage:
#   tools/bench_ab.sh <baselineRef> [queries] [reps]
#     baselineRef  git ref to compare against (e.g. the prior round's
#                  close commit); HEAD of the repo is the other side
#     queries      comma-separated SPARK_GRAFT_QUERIES filter, or '-'
#                  for the full catalog (default '-')
#     reps         interleaved repetitions (default 3; mins are taken
#                  across reps x in-run shots)
#
# Output: per-run stdout lines, then a min-table (baseline vs HEAD per
# query, ratio) printed from the full-map artifacts. Calibration ranges
# are printed so a drifting window is visible, but the verdict column
# is the same-window ratio, which does not need them.
#
# Each baseline ref gets a run directory, /tmp/graft_bench_ab/<sanitized-ref>:
# the ref is built in a plain `git clone` at <run>/base, and each
# invocation's full maps land in <run>/out_<pid>. The clone is REUSED
# while it sits at the ref's commit (first call pays the sbt build);
# delete the run directory when done.
# A clone, not a worktree: it shares no git metadata with this checkout
# and starts with no build outputs, so its sbt build cannot touch this
# checkout's classes.
set -euo pipefail
cd "$(dirname "$0")/.."

ref="${1:?usage: tools/bench_ab.sh <baselineRef> [queries|-] [reps]}"
queries="${2:--}"
reps="${3:-3}"
sf="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

safe=$(echo "$ref" | tr -c 'A-Za-z0-9_.' '_')
sha=$(git rev-parse --verify "$ref^{commit}")
run="/tmp/graft_bench_ab/$safe"
wt="$run/base"
out="$run/out_$$"
mkdir -p "$out"

if [ -d "$wt/.git" ] && [ "$(git -C "$wt" rev-parse HEAD)" = "$sha" ]; then
  echo "== bench_ab: reusing clone $wt ($(git -C "$wt" rev-parse --short HEAD))"
else
  echo "== bench_ab: cloning $ref ($sha) into $wt"
  rm -rf "$wt"
  git clone -q --no-checkout "$PWD" "$wt"
  # a commit no branch or tag reaches is not in the clone yet
  git -C "$wt" cat-file -e "$sha^{commit}" 2>/dev/null ||
    git -C "$wt" fetch -q "$PWD" "$sha"
  git -C "$wt" checkout -q --detach "$sha"
  (cd "$wt" && sbt -batch compile > /dev/null)
fi

filter_env=()
[ "$queries" != "-" ] && filter_env=(SPARK_GRAFT_QUERIES="$queries")

for rep in $(seq 1 "$reps"); do
  for side in base head; do
    dir=$([ "$side" = base ] && echo "$wt" || echo "$PWD")
    echo "== bench_ab: $side rep$rep ($(date +%T))"
    # ${arr[@]+...}: plain "${filter_env[@]}" on an EMPTY array errors
    # under set -u on bash < 4.4 (ADVICE r18)
    (cd "$dir" && env SPARK_GRAFT_SF_DIR="$sf" \
      ${filter_env[@]+"${filter_env[@]}"} \
      SPARK_GRAFT_BENCH_FULL="$out/${side}_${rep}.json" \
      sbt -batch "runMain graft.Bench" 2>/dev/null | tail -1)
  done
done

python3 - "$out" <<'EOF'
import json, sys, glob, os
out = sys.argv[1]
def mins(side):
    per = {}
    calibs, tcalibs = [], []
    for f in glob.glob(os.path.join(out, side + "_*.json")):
        d = json.load(open(f))
        calibs += d.get("calib", [])
        tcalibs += d.get("tcalib", [])
        for q, shots in d.get("shots", {}).items():
            ok = [s for s in shots if s >= 0]
            if ok:
                per.setdefault(q, []).append(min(ok))
    return {q: min(v) for q, v in per.items()}, calibs, tcalibs
base, cb, tb = mins("base")
head, ch, th = mins("head")
common = sorted(set(base) & set(head), key=lambda q: -(head[q] / base[q]))
print(f"\n== bench_ab summary (same-window mins across reps)")
# a side can carry no calib samples (filtered runs on a pre-calib tree,
# or an aborted rep) — print n/a instead of crashing the whole summary
# at the reporting step (ADVICE r18)
def rng(xs):
    return f"[{min(xs):.3f},{max(xs):.3f}]" if xs else "[n/a]"
print(f"calib base {rng(cb)}  head {rng(ch)}")
if tb or th:
    print(f"tcalib base {rng(tb)}  head {rng(th)}")
import statistics
ratios = [head[q] / base[q] for q in common if base[q] >= 0.2]
if ratios:
    print(f"median ratio ({len(ratios)} queries >=0.2s): "
          f"{statistics.median(ratios):.2f}x")
print(f"{'query':38s} {'base':>8s} {'head':>8s} {'ratio':>7s}")
for q in common:
    r = head[q] / base[q]
    if len(common) <= 12 or r >= 1.15 or r <= 0.85:
        print(f"{q:38s} {base[q]:8.3f} {head[q]:8.3f} {r:6.2f}x")
EOF
echo "== bench_ab: full maps in $out"
