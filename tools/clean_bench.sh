#!/bin/bash
# Dev tooling (NOT part of the library): self-arbitrating clean bench.
#
# Cross-round clean benches (BENCH_CLEAN_r*.json) have repeatedly been
# confounded by box-window drift: one window inflated untouched control
# keys 15-30% on identical code (r12 verdict). This recipe makes each
# clean pin SELF-ARBITRATING by also timing a fixed set of frozen
# control keys from a PINNED OLD WORKTREE in the same window and
# recording both; box drift then divides out of the comparison.
#
# Usage: tools/clean_bench.sh <out.json> <pinned_worktree> [pinned_sha]
#   pinned_worktree is a pre-compiled checkout of an older commit (e.g.
#   `git worktree add /tmp/wt_pin <sha>`). Controls are SSB/relational
#   keys untouched since r8. The controls are timed with the pin's own
#   `graft.BenchOne`, which was removed from the tree later: the pin must
#   be a commit that still has src/main/scala/graft/BenchOne.scala, or
#   the script exits 2. SPARK_GRAFT_CPUS defaults to `nproc`; the value
#   used and `nproc` are recorded in the output JSON.
set -eu
USAGE="usage: clean_bench.sh <out.json> <pinned_worktree> [sha]"
OUT=${1:?$USAGE}
WT=${2:?$USAGE}
SHA=${3:-$(git -C "$WT" rev-parse --short HEAD)}
CONTROLS="ssb_q1_1 ssb_q3_3_city_pair rel_market_share rel_brand_top3"
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
NPROC=$(nproc)
CPUS=${SPARK_GRAFT_CPUS:-$NPROC}
if [ ! -f "$WT/src/main/scala/graft/BenchOne.scala" ]; then
  echo "[clean_bench] $WT has no src/main/scala/graft/BenchOne.scala:" \
    "the pinned worktree must predate BenchOne's removal" >&2
  exit 2
fi

echo "[clean_bench] HEAD bench ($(git rev-parse --short HEAD)) on $SF" >&2
HEAD_LINE=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"')

echo "[clean_bench] control keys from pinned worktree $WT ($SHA)" >&2
# control output goes through a temp FILE, not shell interpolation into
# the Python source: sbt/log lines containing quotes or backslashes
# would otherwise break the literal and silently corrupt the capture
CTRL_FILE=$(mktemp /tmp/clean_bench_ctrl.XXXXXX)
trap 'rm -f "$CTRL_FILE"' EXIT
(cd "$WT" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_REPS=2 sbt -batch "runMain graft.BenchOne $CONTROLS" \
  2>/dev/null | grep -E 'rep2:') > "$CTRL_FILE"

python3 - "$OUT" "$SHA" "$CTRL_FILE" "$NPROC" "$CPUS" <<'EOF'
import json, re, sys
out, sha, ctrl_file = sys.argv[1], sys.argv[2], sys.argv[3]
nproc, cpus = int(sys.argv[4]), int(sys.argv[5])
# the stdout JSON line abbreviates to the slowest keys; the full map is
# the target/BENCH_FULL.json the Bench main just wrote under this cwd
head = json.load(open('target/BENCH_FULL.json'))
ctrl = {}
for line in open(ctrl_file):
    m = re.search(r'(\S+) rep2: ([0-9.]+) s', line)
    if m:
        ctrl[m.group(1)] = float(m.group(2))
head['nproc'] = nproc
head['spark_graft_cpus'] = cpus
head['control'] = {'worktree_sha': sha, 'reps': 'warm (rep2)', 'keys': ctrl,
  'head_same_keys': {k: head['queries'][k] for k in ctrl if k in head.get('queries', {})}}
with open(out, 'w') as f:
    f.write(json.dumps(head) + '\n')
print(f"[clean_bench] wrote {out}: total {head['value']}s / "
      f"{len(head.get('queries', {}))} keys; controls {ctrl}", file=sys.stderr)
EOF
