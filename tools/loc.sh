#!/usr/bin/env bash
# Prints the code-line count of the engine: non-blank, non-comment lines
# of every .scala file under src/main. The count CHANGES.md records for
# each change. Run from anywhere: tools/loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
find src/main -name '*.scala' -print0 | xargs -0 cat | grep -c -v -E '^\s*$|^\s*(//|/\*|\*)'
