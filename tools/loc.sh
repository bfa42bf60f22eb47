#!/usr/bin/env bash
# Code lines of Scala sources: lines that are neither blank nor comment-only
# (`//` lines, and every line of a `/* ... */` or `/** ... */` block).
#
#   tools/loc.sh               code lines of src/main and src/test
#   tools/loc.sh FILE|DIR ...  code lines of each argument, then the total
#
# Run it from the repo root. A directory counts every *.scala file under it.
set -euo pipefail

count() {
  find "$@" -name '*.scala' -type f -print0 | xargs -0 -r cat | awk '
    {
      line = $0
      sub(/^[ \t]+/, "", line)
      if (inblock) {
        if (index(line, "*/") == 0) next
        inblock = 0
        line = substr(line, index(line, "*/") + 2)
        sub(/^[ \t]+/, "", line)
      }
      if (line == "" || line ~ /^\/\//) next
      if (line ~ /^\/\*/) {
        end = index(substr(line, 3), "*/")
        if (end == 0) { inblock = 1; next }
        line = substr(line, end + 4)
        sub(/^[ \t]+/, "", line)
        if (line == "" || line ~ /^\/\//) next
      }
      n++
    }
    END { print n + 0 }'
}

if [ "$#" -eq 0 ]; then
  set -- src/main src/test
fi
total=0
for p in "$@"; do
  n=$(count "$p")
  printf '%8d  %s\n' "$n" "$p"
  total=$((total + n))
done
if [ "$#" -gt 1 ]; then
  printf '%8d  total\n' "$total"
fi
