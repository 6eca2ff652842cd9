#!/usr/bin/env bash
# Where the CPU goes: PerfProbe under the JDK's own Flight Recorder.
#
#   tools/cpu_profile.sh <sfDir> <query...> [PerfProbe options]
#
# Runs graft.PerfProbe (two calls per query; repeat a name for more) on
# the classpath that `python3 perfbench/run.py` builds into .bench_build/,
# with a JFR recording at the `profile` settings (a Java stack sample per
# running thread every 10 ms). PerfProbe's own output passes through;
# then the report follows on stdout, one block per thread kind — `task`
# (executor task threads) and `driver` (every other thread):
#
#   [cpu_profile] <kind> samples=N
#   [cpu_profile] <kind> self <share> <n> <frame>   the sampled top frame
#   [cpu_profile] <kind> incl <share> <n> <frame>   on the sampled stack
#
# A frame is class.method; a frame counts once per sample however often
# it recurs. Stacks are read 64 frames deep, so `incl` undercounts frames
# that only ever sit deeper. Each list holds the 20 hottest frames.
# Environment:
#   CPU_PROFILE_MATCH  a regex: also print, per kind, the samples with any
#                      frame matching it ("<kind> match <share> <n>")
#   CPU_PROFILE_JFR    keep the recording at this path
#   SPARK_GRAFT_CPUS   the core count, as for PerfProbe
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <sfDir> <query...> [PerfProbe options]" >&2
  exit 2
fi
root=$(cd "$(dirname "$0")/.." && pwd)
cp_file="$root/.bench_build/perfbench-target/classpath.txt"
if [ ! -f "$cp_file" ]; then
  echo "no $cp_file: build it first with python3 perfbench/run.py" >&2
  exit 2
fi
tmp=$(mktemp -d "${TMPDIR:-/tmp}/cpu-profile.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
rec="${CPU_PROFILE_JFR:-$tmp/rec.jfr}"
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
# shellcheck disable=SC2086
java $opens -Xmx4g -XX:ReservedCodeCacheSize=512m \
  -XX:StartFlightRecording=filename="$rec",settings=profile \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$(cat "$cp_file")" graft.PerfProbe "$@"
status=$?
[ -s "$rec" ] || { echo "no recording at $rec" >&2; exit 1; }
jfr print --stack-depth 64 --events jdk.ExecutionSample "$rec" | python3 -c '
import collections, os, re, sys

match = os.environ.get("CPU_PROFILE_MATCH")
match_re = re.compile(match) if match else None
samples = collections.Counter()
self_n = collections.defaultdict(collections.Counter)
incl_n = collections.defaultdict(collections.Counter)
matched = collections.Counter()

thread = None
frames = None
frame_re = re.compile(r"^\s+([\w$.<>/]+)\(")

def close():
    kind = "task" if thread.startswith("Executor task launch worker") else "driver"
    samples[kind] += 1
    if frames:
        self_n[kind][frames[0]] += 1
    for f in set(frames):
        incl_n[kind][f] += 1
    if match_re and any(match_re.search(f) for f in frames):
        matched[kind] += 1

for line in sys.stdin:
    if line.startswith("jdk.ExecutionSample"):
        thread, frames = "", []
    elif thread is not None:
        m = re.match(r"\s+sampledThread = \"(.*)\" \(", line)
        if m:
            thread = m.group(1)
            continue
        m = frame_re.match(line)
        if m and frames is not None:
            frames.append(m.group(1))
        elif line.startswith("}"):
            close()
            thread = frames = None

for kind in ("task", "driver"):
    n = samples[kind]
    print("[cpu_profile] %s samples=%d" % (kind, n))
    if not n:
        continue
    for label, counts in (("self", self_n[kind]), ("incl", incl_n[kind])):
        for f, c in counts.most_common(20):
            print("[cpu_profile] %s %s %5.1f%% %6d %s" % (kind, label, 100.0 * c / n, c, f))
    if match_re:
        print("[cpu_profile] %s match %5.1f%% %6d %s"
              % (kind, 100.0 * matched[kind] / n, matched[kind], match))
'
exit "$status"
