#!/bin/bash
# Interleaved ABAB focused bench lanes: head1, base1, head2, base2.
# Usage: tools/ab_lanes.sh <lane-prefix> <comma-query-list>
# HEAD = working tree (uncommitted changes under src/ required, new
# untracked files included); BASE = the same tree with those changes,
# new files too, stashed.
# Writes bench_ab/<prefix>_{head1,base1,head2,base2}.json, then prints the
# per-query verdicts of tools/ab_compare.py over them.
set -e
PREFIX="$1"; QS="$2"
# with nothing to stash, `git stash push` saves nothing and the later
# `git stash pop` fails (or pops an unrelated older stash into the tree)
# `git diff` and a plain `git stash push` both miss untracked files: a
# change that only adds files would be refused, and one that also edits
# tracked files would compile the new files into the base lanes too
if [ -z "$(git status --porcelain -- src/)" ]; then
  echo "ab_lanes: no uncommitted change under src/ — nothing to compare" >&2
  exit 1
fi
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_BENCH_ONLY="$QS"
run() {
  SPARK_GRAFT_BENCH_OUT="bench_ab/${PREFIX}_$1.json" \
    sbt -batch "runMain graft.Bench" 2>&1 | tail -1
}
run head1
git stash push -u -- src/
trap 'git stash pop' EXIT
run base1
git stash pop
trap - EXIT
run head2
git stash push -u -- src/
trap 'git stash pop' EXIT
run base2
git stash pop
trap - EXIT
echo "ABAB lanes done: bench_ab/${PREFIX}_*"
python3 tools/ab_compare.py "$PREFIX"
