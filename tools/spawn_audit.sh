#!/usr/bin/env bash
# Count the helper processes a command forks for file-system metadata.
#
#   tools/spawn_audit.sh CMD [ARG...]
#
# Runs CMD once with logging shims for `chmod`, `readlink`, `stat` and
# `ls` first on PATH. Each shim appends its command line to a log and
# then execs the real binary, so CMD behaves as it would without them.
# Afterwards it prints spawn counts by command, by the kind of
# program dir a path sits under (a `graft.TempDirs.scoped` dir such as
# `graft_ckpt*` or `graft_delta_log*`, or a `ckpt/` checkpoint dir of a
# query started elsewhere), and by path pattern (digits and hex ids
# folded to `#`). The last line, `program_spawns=N`, counts the spawns
# on paths under a run's work dir: the program's scratch root
# (`graft-scratch/`) or a benchmark run's dir (`.bench_build/`). CMD's
# own exit code is passed through.
#
# Hadoop's local file system forks `chmod` for every file it creates
# when libhadoop is not loaded, and `FileContext.rename` forks
# `readlink`; this is how those forks are counted, e.g.
#
#   tools/spawn_audit.sh python3 lambdabench/run.py --workload lambda_batch --seed 1 --seconds 10
set -uo pipefail

if [ $# -eq 0 ]; then
  sed -n '2,/^set /p' "$0" | sed '$d; s/^# \{0,1\}//'
  exit 2
fi

shims=$(mktemp -d "${TMPDIR:-/tmp}/spawn_audit.XXXXXX")
trap 'rm -rf "$shims"' EXIT
log="$shims/spawns.log"
: > "$log"

for cmd in chmod readlink stat ls; do
  real=$(command -v "$cmd") || { echo "spawn_audit: no $cmd on PATH" >&2; exit 2; }
  cat > "$shims/$cmd" <<EOF
#!/bin/sh
printf '%s %s\n' "$cmd" "\$*" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shims/$cmd"
done

PATH="$shims:$PATH" "$@"
rc=$?

python3 - "$log" <<'EOF'
import collections, re, sys

lines = [ln.rstrip("\n") for ln in open(sys.argv[1]) if ln.strip()]
by_cmd = collections.Counter()
by_dir = collections.Counter()
by_pattern = collections.Counter()
program = 0
for ln in lines:
    cmd, _, args = ln.partition(" ")
    by_cmd[cmd] += 1
    paths = [a for a in args.split() if "/" in a] or [args]
    path = paths[-1]
    kind = re.search(r"/(graft_[A-Za-z_]*?)(?:\d|/|$)", path)
    kind = kind.group(1) + "*" if kind else "ckpt/" if "/ckpt/" in path else "(elsewhere)"
    by_dir[(cmd, kind)] += 1
    if re.search(r"/(graft-scratch|\.bench_build)/", path):
        program += 1
    pattern = re.sub(r"[0-9a-f]{8}(-?[0-9a-f]{4}){3}-?[0-9a-f]{12}", "#", path)
    by_pattern[(cmd, re.sub(r"\d+", "#", pattern))] += 1

print(f"\n== spawn_audit: {len(lines)} spawns ==")
for cmd, n in by_cmd.most_common():
    print(f"{n:8d}  {cmd}")
print("\n== by program directory kind ==")
for (cmd, kind), n in sorted(by_dir.items(), key=lambda kv: (-kv[1], kv[0])):
    print(f"{n:8d}  {cmd:<9} {kind}")
print("\n== by path pattern (top 25) ==")
for (cmd, pattern), n in by_pattern.most_common(25):
    print(f"{n:8d}  {cmd:<9} {pattern}")
print(f"\nprogram_spawns={program}")
EOF
exit $rc
