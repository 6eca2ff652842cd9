#!/usr/bin/env bash
# Count the chmod, readlink, ls, stat and id processes a command starts.
#
#   tools/spawn_audit.sh <cmd...>
#
# Puts a logging shim for each of those commands first on PATH (in a temp
# dir), runs <cmd...> with its output passed through, then prints on stderr
# how many times each shimmed command was started, by the command or any
# process under it, and the total. Every shim runs the real command with
# the same arguments, so the command under audit behaves as without it;
# the exit status is the command's. Hadoop's local filesystem without its
# native library starts `chmod` per setPermission, `readlink` per
# getFileLinkStatus, `ls` per permission/owner lookup and `stat`/`id` in
# its stat- and group-lookup paths.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <cmd...>" >&2
  exit 2
fi
cmds="chmod readlink ls stat id"
shims=$(mktemp -d "${TMPDIR:-/tmp}/spawn-audit.XXXXXX")
trap 'rm -rf "$shims"' EXIT
log="$shims/spawns.log"
: > "$log"
for cmd in $cmds; do
  real=$(command -v "$cmd") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$cmd" "$log" "$real" > "$shims/$cmd"
  chmod +x "$shims/$cmd"
done
PATH="$shims:$PATH" "$@"
status=$?
for cmd in $cmds; do
  printf '[spawn_audit] %-8s %d\n' "$cmd" "$(grep -cx "$cmd" "$log")" >&2
done
printf '[spawn_audit] %-8s %d\n' total "$(wc -l < "$log")" >&2
exit $status
