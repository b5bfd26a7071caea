#!/usr/bin/env bash
# Line counts of the main Scala sources: total lines and code lines
# (non-blank lines outside // line comments and /* ... */ block comments).
#
# Usage: tools/loc.sh [SRC_DIR]
#   SRC_DIR defaults to src/main of the checkout holding this script. To
#   compare two commits, run it on a second checkout of the other commit
#   (git clone or git archive), e.g. tools/loc.sh /tmp/parent/src/main.
set -euo pipefail

dir="${1:-$(cd "$(dirname "$0")/.." && pwd)/src/main}"
[ -d "$dir" ] || { echo "loc.sh: no such directory: $dir" >&2; exit 1; }

find "$dir" -name '*.scala' -print0 | sort -z | xargs -0 cat | awk '
  { total++; s = $0; sub(/^[ \t]+/, "", s) }
  inblock { if (index(s, "*/")) inblock = 0; next }
  s == "" { next }
  s ~ /^\/\// { next }
  s ~ /^\/\*/ { if (!index(s, "*/")) inblock = 1; next }
  { code++ }
  END { printf "total %d\ncode %d\n", total, code }'
