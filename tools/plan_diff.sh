#!/usr/bin/env bash
# Physical-plan diff: a parent revision against this working tree.
#
# Usage: tools/plan_diff.sh PARENT_REV q_a,q_b,...
#
# Exports PARENT_REV (git archive) and the working tree (the files
# `git ls-files -co --exclude-standard` names, so build output and
# ignored scratch stay behind) into two fresh directories under a new
# `mktemp -d` (set TMPDIR to choose where), compiles each with
# `sbt -batch compile`, and runs `graft.Explain` at Explain's default
# scale dir (/root/testdata/sf0.01) over the named queries on both
# sides. Run-specific text is masked before the diff:
# expression ids (`#12`), `plan_id=12`, `/tmp/...` scratch paths,
# `@1a2b3c` object hashes, and the source line numbers of RDD call sites
# (`localCheckpoint at ClusterOps.scala:183`, which move with any edit
# above them). Prints the diff of the masked plans and exits 1
# on any difference, 0 when every plan is identical. Each side's masked
# plans stay in <dir>/parent.md and <dir>/change.md; the source copies
# are deleted on exit. Session settings (SPARK_GRAFT_CPUS and the rest)
# pass through to both runs, so the shuffle width is the same on both.
set -euo pipefail

[ $# -ge 2 ] || { sed -n '2,20p' "$0" >&2; exit 2; }
rev="$1" queries="$2" sf=/root/testdata/sf0.01
repo="$(cd "$(dirname "$0")/.." && pwd)"

dir="$(mktemp -d)"
mkdir -p "$dir/parent" "$dir/change"
trap 'rm -rf "$dir/parent" "$dir/change"' EXIT
git -C "$repo" archive "$rev" | tar -x -C "$dir/parent"
# tracked files deleted in the working tree are left out
(cd "$repo" && git ls-files -co --exclude-standard -z |
  while IFS= read -r -d '' f; do [ -e "$f" ] && printf '%s\0' "$f"; done |
  tar --null -T - -c) | tar -x -C "$dir/change"
echo "plan_diff: $rev vs working tree, $queries, plans in $dir"

for side in parent change; do
  (cd "$dir/$side" && sbt -batch compile > "$dir/$side.build.log" 2>&1) ||
    { echo "plan_diff: $side failed to compile (see $dir/$side.build.log)" >&2; exit 2; }
  (cd "$dir/$side" && tools/graft_java.sh graft.Explain "$sf" "$dir/$side.raw.md" \
      "$queries" > "$dir/$side.explain.log" 2>&1) ||
    { echo "plan_diff: $side Explain failed (see $dir/$side.explain.log)" >&2; exit 2; }
  sed -E -e 's/#[0-9]+/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's#/tmp/[^] ,)]*#/tmp/...#g' -e 's/@[0-9a-f]+/@H/g' \
    -e 's/\.scala:[0-9]+/.scala:N/g' \
    "$dir/$side.raw.md" > "$dir/$side.md"
done

if diff -u "$dir/parent.md" "$dir/change.md"; then
  echo "plan_diff: no difference in $(grep -c '^## ' "$dir/change.md") plans"
else
  exit 1
fi
