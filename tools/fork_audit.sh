#!/usr/bin/env bash
# Counts the chmod, ls and stat processes a command forks, e.g.
#
#   tools/fork_audit.sh python3 perfbench/run.py --workload etl_star_load \
#       --seed 1 --seconds 10 --trace 0
#
# Without the native-hadoop library, Hadoop's local file system runs these
# three through a shell: chmod to set a permission, ls or stat to read one.
# Wrappers for them go first on PATH, in a fresh mktemp -d directory that is
# removed on exit; each appends its argv to a log there and execs the real
# binary. The command's own output is untouched; the counts (chmod also by
# mode) go to stderr after it ends, and the script exits with its status.
set -euo pipefail
[ $# -gt 0 ] || { echo "usage: $0 <cmd> [args...]" >&2; exit 2; }
dir=$(mktemp -d)
trap 'rm -rf "$dir"' EXIT
log="$dir/calls.log"
: > "$log"
cmds="chmod ls stat"
for c in $cmds; do
  real=$(command -v "$c") || { echo "fork_audit: no $c on PATH" >&2; exit 2; }
  cat > "$dir/$c" <<EOF
#!/bin/sh
printf '%s\n' "$c \$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/$c"
done
status=0
PATH="$dir:$PATH" "$@" || status=$?
{
  echo "fork_audit: $*"
  for c in $cmds; do
    echo "$c $(grep -c "^$c " "$log" || true)"
  done
  awk '$1 == "chmod" { n[$2]++ } END { for (m in n) print "  chmod " m, n[m] }' "$log" | sort
} >&2
exit "$status"
