#!/usr/bin/env python3
"""Attribute the child processes a JVM started, from a JFR recording.

Usage: jfrforks.py <rec.jfr> [--top N]   # tables of jdk.ProcessStart events
       jfrforks.py --selftest            # pin the grouping on fixed events

Reads the recording through `jfr print --json --stack-depth 200 --events
jdk.ProcessStart` and prints the event count, the time span between the
first and the last start, and three tables of counts:

1. by command: the program started (`chmod`, `readlink`, `rm`, ...);
2. by caller: the innermost stack frame outside the JDK and Hadoop, i.e.
   the code that asked Hadoop for the file operation (a Spark checkpoint
   manager, the parquet writer, ...), with the Hadoop method it called;
3. by thread: the thread's name with digits and ids folded to `#`.

A recording to read is made by starting the JVM with, for example,
`-XX:StartFlightRecording=filename=rec.jfr,settings=profile`;
`jdk.ProcessStart` is on in both stock settings. Exit status: 0 when the
recording holds no process start, 1 when it holds some, 2 on bad input.
"""
import collections
import json
import re
import subprocess
import sys

OUTSIDE = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")


def frame_class(frame):
    return frame["method"]["type"]["name"].replace("/", ".")


def frame_name(frame):
    return f"{frame_class(frame)}.{frame['method']['name']}"


def caller(frames):
    """(first frame outside the JDK and Hadoop, the Hadoop frame it called)."""
    entry = None
    for f in frames:
        cls = frame_class(f)
        if cls.startswith("org.apache.hadoop."):
            entry = frame_name(f)
        elif not cls.startswith(OUTSIDE):
            return frame_name(f), entry
    return "(no caller outside the JDK and Hadoop)", entry


def thread_key(name):
    name = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "#", name)
    return re.sub(r"\d+", "#", name)


def group(events):
    """Counters by command, by (caller, Hadoop entry) and by thread."""
    by_cmd, by_caller, by_thread = (collections.Counter() for _ in range(3))
    for e in events:
        v = e["values"]
        argv = (v.get("command") or "").split()
        by_cmd[argv[0].rsplit("/", 1)[-1] if argv else "(none)"] += 1
        frames = (v.get("stackTrace") or {}).get("frames") or []
        who, via = caller(frames)
        by_caller[f"{who}  <- {via}" if via else who] += 1
        thread = (v.get("eventThread") or {}).get("javaName") or "(no thread)"
        by_thread[thread_key(thread)] += 1
    return by_cmd, by_caller, by_thread


def read(path):
    p = subprocess.run(["jfr", "print", "--json", "--stack-depth", "200",
                        "--events", "jdk.ProcessStart", path],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        print(f"jfr print failed: {p.stderr.strip()}", file=sys.stderr)
        sys.exit(2)
    return json.loads(p.stdout)["recording"]["events"]


def report(events, top):
    print(f"{len(events)} process starts")
    times = sorted(e["values"]["startTime"] for e in events)
    if times:
        print(f"first {times[0]}  last {times[-1]}")
    for title, counter in zip(("command", "caller  <- Hadoop entry", "thread"),
                              group(events)):
        print(f"\nby {title}:")
        for key, n in counter.most_common(top):
            print(f"{n:8d}  {key}")


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}}


def event(command, thread, *frames):
    return {"values": {"startTime": "t", "command": command,
                       "eventThread": {"javaName": thread},
                       "stackTrace": {"frames": list(frames)}}}


def selftest():
    chmod = event("chmod 0644 /tmp/x", "Executor task launch worker for task 3.0 in stage 7.0 (TID 12)",
                  frame("java/lang/ProcessBuilder", "start"),
                  frame("org.apache.hadoop.util.Shell", "runCommand"),
                  frame("org.apache.hadoop.fs.RawLocalFileSystem", "setPermission"),
                  frame("org.apache.hadoop.fs.ChecksumFileSystem", "create"),
                  frame("org.apache.parquet.hadoop.ParquetFileWriter", "<init>"),
                  frame("org.apache.spark.sql.Dataset", "write"))
    readlink = event("/usr/bin/readlink /tmp/c/offsets/.3.tmp",
                     "stream execution thread for [id = 0b1c2d3e-0000-1111-2222-333344445555, runId = 9]",
                     frame("java.lang.ProcessBuilder", "start"),
                     frame("org.apache.hadoop.fs.FileUtil", "readLink"),
                     frame("org.apache.spark.sql.execution.streaming.FileContextBasedCheckpointFileManager",
                           "renameTempFile"))
    bare = event("rm -rf /tmp/spark-1", "shutdown-hook-0",
                 frame("java.lang.ProcessBuilder", "start"))
    by_cmd, by_caller, by_thread = group([chmod, readlink, readlink, bare])
    checks = [
        ("commands", by_cmd == {"chmod": 1, "readlink": 2, "rm": 1}),
        ("caller skips Hadoop and the JDK",
         by_caller["org.apache.parquet.hadoop.ParquetFileWriter.<init>  "
                   "<- org.apache.hadoop.fs.ChecksumFileSystem.create"] == 1),
        ("caller names the outermost Hadoop entry",
         by_caller["org.apache.spark.sql.execution.streaming.FileContextBasedCheckpointFileManager"
                   ".renameTempFile  <- org.apache.hadoop.fs.FileUtil.readLink"] == 2),
        ("no caller", by_caller["(no caller outside the JDK and Hadoop)"] == 1),
        ("thread ids folded",
         by_thread["stream execution thread for [id = #, runId = #]"] == 2
         and by_thread["Executor task launch worker for task #.# in stage #.# (TID #)"] == 1),
    ]
    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    failures = sum(not ok for _, ok in checks)
    print(f"\nselftest: {'PASS' if not failures else f'{failures} FAILURES'}")
    return 1 if failures else 0


def main(argv):
    if argv[:1] == ["--selftest"]:
        return selftest()
    if not argv or argv[0].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    top = int(argv[argv.index("--top") + 1]) if "--top" in argv else 20
    events = read(argv[0])
    report(events, top)
    return 1 if events else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
