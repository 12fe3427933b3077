#!/usr/bin/env bash
# Count the file-utility processes a command starts, per utility.
#   tools/count_shellouts.sh [-o LOG] <command> [args...]
# Without libhadoop, Hadoop's local FileSystem forks `readlink`, `chmod`,
# `stat`, `ls` or `rm` for many file ops; the JVM resolves them through
# PATH, so logging shims placed first on PATH see every one. -o keeps
# the full log (one "<utility> <args>" line per process).
set -u
log_out=""
if [ "${1:-}" = "-o" ]; then log_out="$2"; shift 2; fi
[ $# -gt 0 ] || { echo "usage: $0 [-o LOG] <command> [args...]" >&2; exit 2; }
shims=$(mktemp -d)
trap 'rm -rf "$shims"' EXIT
for c in chmod readlink stat ls rm; do
  real=$(command -v "$c") || continue
  printf '#!/bin/sh\necho "%s $*" >> "%s/log"\nexec %s "$@"\n' \
    "$c" "$shims" "$real" > "$shims/$c"
  chmod +x "$shims/$c"
done
: > "$shims/log"
PATH="$shims:$PATH" "$@"
status=$?
echo "shell-outs per utility (total $(wc -l < "$shims/log")):"
cut -d' ' -f1 "$shims/log" | sort | uniq -c | sort -rn
[ -n "$log_out" ] && cp "$shims/log" "$log_out"
exit $status
