#!/bin/sh
# Count the child processes a command starts, by program name.
#
#   tools/spawn_count.sh python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 5
#
# Puts logging shims for chmod, chown, ls, stat and bash first on PATH
# (each appends its name to a log, then execs the real program), runs
# the command, and prints "<program> <count>" for every shimmed program
# to stderr. The command's own output and exit code pass through. Only
# spawns that resolve the program through PATH are seen; that is how
# Hadoop's Shell and the pyenv launchers start them.
set -u
dir=$(mktemp -d "${TMPDIR:-/tmp}/spawn_count.XXXXXX")
log="$dir/log"
: > "$log"
for prog in chmod chown ls stat bash; do
  real=$(command -v "$prog") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$prog" "$log" "$real" > "$dir/$prog"
  chmod +x "$dir/$prog"
done
PATH="$dir:$PATH" "$@"
rc=$?
for prog in chmod chown ls stat bash; do
  echo "$prog $(grep -cx "$prog" "$log")" >&2
done
rm -rf "$dir"
exit $rc
