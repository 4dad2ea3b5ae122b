#!/bin/sh
# Knob inventory of the engine's sources: every `spark.graft.*` conf key
# and every "graft.*" string literal (table properties, field-metadata
# keys and their prefixes; fully-qualified class names left out), each
# with the number of literals naming it, then the distinct count of each
# kind. Counts string literals only: a key spelled in a comment or built
# by concatenation is not counted. The script only reads.
#
# Usage: scripts/knobs.sh [dir]    (default: src/main, from the repo root)
set -eu
cd "$(dirname "$0")/.."
src=${1:-src/main}

conf() { grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+"' "$src" | tr -d '"'; }
props() {
  grep -rhoE '"graft\.[A-Za-z0-9_.]*"' "$src" | tr -d '"' | grep -vE '\.[A-Z][^.]*$' || true
}

echo "spark.graft.* conf keys (literals, key):"
conf | sort | uniq -c
echo "graft.* literals — table properties and metadata keys (literals, key):"
props | sort | uniq -c
echo "distinct: spark.graft.* $(conf | sort -u | wc -l), graft.* $(props | sort -u | wc -l)"
