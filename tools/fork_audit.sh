#!/usr/bin/env bash
# Fork audit: counts the Hadoop shell helpers (chmod, readlink, ls, stat,
# chown) that the forked test JVM spawns while it runs the ingest pipeline
# and ledger specs. Without the native libhadoop, stock Hadoop forks one of
# these per local file it creates or renames; graft.sources.LocalFs does
# that work in-process, so the expected count is 0.
#
# Mechanism: a logging wrapper for each helper goes first on PATH. Each
# call records the command line of its parent process; only calls whose
# parent is sbt's forked test JVM (main class sbt.ForkMain) are counted, so
# the sbt launcher's own shell calls are left out. sbt starts that JVM as
# `java @<argfile>`, so the wrapper looks for the main class in the argfile.
#
# Usage: tools/fork_audit.sh      Exit 0 iff the specs pass and 0 calls
#                                 are counted.
set -u
cd "$(dirname "$0")/.."

wrap=$(mktemp -d)
trap 'rm -rf "$wrap"' EXIT
log="$wrap/calls.tsv"
: > "$log"
for cmd in chmod readlink ls stat chown; do
  real=$(command -v "$cmd") || { echo "fork_audit: no $cmd on PATH" >&2; exit 2; }
  cat > "$wrap/$cmd" <<EOF
#!/bin/sh
parent=\$(ps -o args= -p \$PPID)
case "\$parent" in
  *" @"*) argfile=\${parent##* @}
          grep -qs 'sbt\.ForkMain' "\${argfile%% *}" && parent="\$parent sbt.ForkMain" ;;
esac
printf '%s\t%s\n' "$cmd" "\$parent" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$wrap/$cmd"
done

PATH="$wrap:$PATH" sbt -batch \
  "testOnly graft.streaming.IngestPipelineSpec graft.sources.LedgerSpec"
tests=$?

echo "fork_audit: helper calls from the test JVM, by command:"
awk -F '\t' '$2 ~ /sbt\.ForkMain/ { n[$1]++; t++ }
  END { for (c in n) printf "  %-8s %d\n", c, n[c]; printf "  total    %d\n", t + 0 }' "$log"
forks=$(awk -F '\t' '$2 ~ /sbt\.ForkMain/' "$log" | wc -l)
echo "fork_audit: calls from other parents (not counted): $(( $(wc -l < "$log") - forks ))"

if [ "$tests" -ne 0 ]; then echo "fork_audit: specs failed ($tests)" >&2; exit "$tests"; fi
[ "$forks" -eq 0 ]
