#!/usr/bin/env bash
# Non-comment line count of the program sources: every line under
# src/main (or the paths given) that is not blank and does not start
# with `//`, `*` or `/**`. The figure CHANGES.md quotes per change.
#   scripts/loc.sh            # src/main total
#   scripts/loc.sh -v         # per file, then the total
#   scripts/loc.sh PATH...    # total over the given files or directories
set -euo pipefail
cd "$(dirname "$0")/.."
verbose=0
if [ "${1:-}" = "-v" ]; then verbose=1; shift; fi
[ $# -eq 0 ] && set -- src/main
total=0
while IFS= read -r f; do
  n=$(grep -cvE '^\s*(//|\*|/\*\*|$)' "$f" || true)
  [ "$verbose" = 1 ] && printf '%6d %s\n' "$n" "$f"
  total=$((total + n))
done < <(find "$@" -type f -name '*.scala' | sort)
echo "$total"
