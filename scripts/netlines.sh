#!/bin/sh
# Net line count of the working tree against a base commit, per source
# tree: lines added, removed and net for src/main and src/test, from
# `git diff --numstat <base>` (binary files count as zero; a new file
# counts once it is tracked, e.g. after `git add -N`).
#
# Usage: scripts/netlines.sh <base>
set -eu
if [ $# -ne 1 ]; then
  echo "usage: $0 <base>" >&2
  exit 2
fi
base=$1
for tree in src/main src/test; do
  git diff --numstat "$base" -- "$tree" | awk -v tree="$tree" '
    $1 != "-" { added += $1; removed += $2 }
    END { printf "%s +%d / -%d (net %+d)\n", tree, added, removed, added - removed }'
done
