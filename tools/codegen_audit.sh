#!/usr/bin/env bash
# Count the generated classes each PerfProbe call compiles, and say why.
#
#   tools/codegen_audit.sh <sfDir> <query...> [PerfProbe options]
#
# Runs graft.PerfProbe (two calls per query) on the classpath that
# `python3 perfbench/run.py` builds into .bench_build/, with a log4j2
# config that logs Spark's CodeGenerator at DEBUG, one record per compile
# with the compiling thread's name. PerfProbe's own output passes through;
# after each of its `CALL` lines an audit line follows on stderr:
#
#   [codegen_audit] CALL <query> <i> compiles=N seen=S new=M task=T stream=R driver=D
#
# seen: sources compiled earlier in this JVM, so found again only under
#   another cache key (the codegen cache is keyed by the thread's context
#   classloader and the source);
# new: sources compiled for the first time, as a per-call literal or a
#   fresh expression id in the source makes them;
# task/stream/driver: the compiling thread, an executor task, a stream's
#   micro-batch thread or any other driver thread.
# Each CALL is charged the last N compile records before its line, N
# being the compiles= count PerfProbe prints on it; older records (JVM
# and session start, a --scale corpus) print first as one
#   [codegen_audit] PRE compiles=N seen=S new=M task=T stream=R driver=D
# line. A warm call (i = 2) should compile 0. Set CODEGEN_AUDIT_DIR to a
# directory to keep every compiled source there as <query>-<i>-<n>.java
# for diffing. SPARK_GRAFT_CPUS sets the core count as for PerfProbe.
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
tmp=$(mktemp -d "${TMPDIR:-/tmp}/codegen-audit.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
cat > "$tmp/log4j2.properties" <<'EOF'
rootLogger.level = warn
rootLogger.appenderRef.out.ref = out
appender.out.type = Console
appender.out.name = out
appender.out.target = SYSTEM_OUT
appender.out.layout.type = PatternLayout
appender.out.layout.pattern = CODEGEN_AUDIT %p [%t] %c{1}:%m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = debug
EOF
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
# shellcheck disable=SC2086
java $opens -Xmx4g -XX:ReservedCodeCacheSize=512m \
  -Dlog4j2.configurationFile="$tmp/log4j2.properties" \
  -Dspark.sql.codegen.logging.maxLines=1000000 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$(cat "$cp_file")" graft.PerfProbe "$@" | python3 -c '
import hashlib, os, re, sys

dump = os.environ.get("CODEGEN_AUDIT_DIR")
seen = set()
compiles = []      # (thread, source) since the last CALL line
record = None      # [thread, source lines] of the compile being read

def close():
    global record
    if record is not None and record[1]:
        compiles.append((record[0], "\n".join(record[1])))
    record = None

def report(label, records, call):
    old = new = 0
    kinds = {"task": 0, "stream": 0, "driver": 0}
    for n, (thread, src) in enumerate(records):
        h = hashlib.sha256(src.encode()).hexdigest()
        if h in seen:
            old += 1
        else:
            new += 1
            seen.add(h)
        kinds[kind(thread)] += 1
        if dump and call:
            with open(os.path.join(dump, "%s-%s-%d.java" % (call.group(1), call.group(2), n)), "w") as f:
                f.write(src + "\n")
    print("[codegen_audit] %s compiles=%d seen=%d new=%d task=%d stream=%d driver=%d"
          % (label, len(records), old, new,
             kinds["task"], kinds["stream"], kinds["driver"]), file=sys.stderr, flush=True)

def kind(thread):
    if thread.startswith("Executor task launch worker"):
        return "task"
    if thread.startswith("stream execution thread"):
        return "stream"
    return "driver"

for line in sys.stdin:
    line = line.rstrip("\n")
    m = re.match(r"CODEGEN_AUDIT (\w+) \[(.*)\] CodeGenerator:", line)
    if m:
        close()
        if m.group(1) == "DEBUG":
            record = [m.group(2), []]
        continue
    if record is not None and line.startswith("/* "):
        record[1].append(line)
        continue
    close()
    print(line, flush=True)
    call = re.match(r"CALL (\S+) (\d+) .*compiles=(\d+)", line)
    if not call:
        continue
    # PerfProbe counts the compiles of the call itself; older records
    # (session start, a scaled corpus written before the first query)
    # are reported apart rather than charged to the call
    split = max(0, len(compiles) - int(call.group(3)))
    if split:
        report("PRE", compiles[:split], None)
    report("CALL %s %s" % (call.group(1), call.group(2)), compiles[split:], call)
    compiles = []
'
exit "${PIPESTATUS[0]}"
