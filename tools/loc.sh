#!/bin/bash
# Tracked size of the engine: non-blank, non-comment Scala lines under
# src/main. Every simplicity change reports this number before and after.
# Usage: tools/loc.sh   (from anywhere inside the repo)
cd "$(dirname "$0")/.." || exit 1
find src/main -name '*.scala' -print0 | xargs -0 cat \
  | grep -v '^[[:space:]]*$' \
  | grep -v '^[[:space:]]*\(//\|\*\|/\*\)' \
  | wc -l
