#!/usr/bin/env python3
"""Heap allocation by thread and by cause, from a JFR recording.

Usage: python3 tools/alloc_profile.py <recording.jfr> [--from S] [--to S]
                                      [--top N] [--within FRAME]...

Sums the `weight` of every `jdk.ObjectAllocationSample` event (the bytes
the JVM attributes to that sample) in the recording, optionally only
those from S to S seconds after the earliest sample, and prints two tables:

- by thread, with digits folded to `#` so the executor task threads of
  every task and stage form one row (the top N threads);
- by category: each sample goes to the category of the first frame,
  walking from the allocation site down the stack, that matches one of
  CATEGORIES; a sample no frame matches is `other`, and its top N
  allocation sites are listed after the tables.

`broadcast blockify` (serializing a broadcast value into its blocks) is
split by the broadcast's caller: the first frame below the blockify frame
that matches one of BLOCKIFY_CALLERS names the row, so a cut in Spark jobs
and a cut in broadcast joins or file scans show up in different rows:

- `broadcast blockify: task binary`: the serialized RDD and closure of a
  stage, broadcast once per submitted stage
  (`DAGScheduler.submitMissingTasks`);
- `broadcast blockify: broadcast join`: the build side of a broadcast join
  (`BroadcastExchangeExec`);
- `broadcast blockify: Hadoop conf`: the Hadoop configuration a file scan
  ships to its tasks (`SerializableConfiguration.broadcast`);
- `broadcast blockify: other`: any other caller.

Each `--within FRAME` adds a row to a last table: the MB and share of
the samples with any frame on their stack that contains FRAME (for
example `graft.sources.BlockRangeReader` or `SparkPlanInfo`), wherever it
sits on the stack. The rows may overlap.

A sample's weight is what its thread allocated since its previous
sample, so small categories are attributed statistically, not exactly.

Record a running JVM (a perfbench workload, a graft.Bench run) with

    jcmd <pid> JFR.start settings=profile filename=/tmp/run.jfr
    jcmd <pid> JFR.stop                       # or let the JVM exit

The `profile` settings sample allocations at up to 300 events/s. JFR
keeps 64 frames of each stack by default, which cuts Spark task stacks
short: an executor task's allocation site can sit more than 64 frames
above its `Executor$TaskRunner.run`, and such a sample then matches no
frame below the cut. In one whole `ingest` run, 434 of the 1,184 MB of
executor-task samples had stacks deeper than 64 frames. Record deep stacks by
starting the JVM with `-XX:FlightRecorderOptions:stackdepth=512`; this tool
reads up to STACK_DEPTH frames of each stack, which is every frame such a
recording holds. Needs the JDK's `jfr` tool on PATH.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

# Frames per stack that `jfr print` emits; a recording holds no more than
# the depth it was recorded with, so one constant serves every recording.
STACK_DEPTH = 512

# (category, substrings of "package.Class.method"), in no order: the
# nearest matching frame to the allocation site decides.
CATEGORIES = [
    ("broadcast blockify", ["org.apache.spark.broadcast.TorrentBroadcast$.blockifyObject"]),
    ("task-result buffer", ["org.apache.spark.serializer.SerializerHelper$.serializeToChunkedBuffer",
                            "org.apache.spark.scheduler.DirectTaskResult."]),
    ("Tungsten page", ["org.apache.spark.memory.TaskMemoryManager.allocatePage",
                       "org.apache.spark.unsafe.memory.HeapMemoryAllocator.allocate"]),
    ("Hadoop-conf gzip", ["org.apache.hadoop.io.WritableUtils.writeCompressed",
                          "org.apache.hadoop.conf.Configuration.write"]),
    ("parquet read", ["org.apache.parquet.",
                      "org.apache.spark.sql.execution.datasources.parquet."]),
    ("codegen", ["org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "org.apache.spark.sql.catalyst.expressions.codegen."]),
    ("Catalyst", ["org.apache.spark.sql.catalyst.",
                  "org.apache.spark.sql.execution.QueryExecution."]),
]

# (row suffix, substrings of "package.Class.method") for the callers of a
# `broadcast blockify` sample: the nearest matching frame below the
# blockify frame decides.
BLOCKIFY_CALLERS = [
    ("task binary", ["org.apache.spark.scheduler.DAGScheduler.submitMissingTasks"]),
    ("broadcast join", ["org.apache.spark.sql.execution.exchange.BroadcastExchangeExec"]),
    ("Hadoop conf", ["org.apache.spark.util.SerializableConfiguration"]),
]


def matching(frames, categories):
    """(index, name) of the first frame that matches one of `categories`,
    or None."""
    for i, f in enumerate(frames):
        for cat, needles in categories:
            if any(n in f for n in needles):
                return i, cat
    return None


def frame_name(frame):
    m = frame.get("method") or {}
    cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def category(frames):
    hit = matching(frames, CATEGORIES)
    if hit is None:
        return "other"
    i, cat = hit
    if cat == "broadcast blockify":
        caller = matching(frames[i + 1:], BLOCKIFY_CALLERS)
        return f"{cat}: {caller[1] if caller else 'other'}"
    return cat


def samples(path):
    """Yields (startTime, thread name, frame names, weight) per sample,
    decoding `jfr print --json` one event at a time."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
         "--events", "jdk.ObjectAllocationSample", path],
        stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf, pos, started = "", 0, False
    for chunk in iter(lambda: proc.stdout.read(1 << 20), ""):
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            i = buf.find('"events"')
            j = buf.find("[", i) if i >= 0 else -1
            if j < 0:
                continue
            pos, started = j + 1, True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos >= len(buf) or buf[pos] == "]":
                break
            try:
                ev, end = dec.raw_decode(buf, pos)
            except json.JSONDecodeError:
                break  # the event runs on into the next chunk
            pos = end
            v = ev.get("values", {})
            thread = (v.get("eventThread") or {}).get("javaName") or "?"
            frames = [frame_name(f) for f in
                      ((v.get("stackTrace") or {}).get("frames") or [])]
            yield v.get("startTime"), thread, frames, float(v.get("weight", 0))
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def seconds(ts):
    return datetime.datetime.fromisoformat(
        re.sub(r"(\.\d{6})\d*", r"\1", ts).replace("Z", "+00:00")).timestamp()


def table(title, totals, total, top=None):
    """A markdown table of the `top` largest rows, the rest folded into
    one, then the total."""
    rows = sorted(totals.items(), key=lambda kv: -kv[1])
    if top is not None and len(rows) > top:
        rows = rows[:top] + [("(the rest)", sum(w for _, w in rows[top:]))]
    print(f"\n| {title} | MB | share |\n|---|---:|---:|")
    for k, w in rows:
        print(f"| {k} | {w / 2**20:.1f} | {w / total:.1%} |")
    print(f"| total | {total / 2**20:.1f} | 100% |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--from", dest="start", type=float, default=None,
                    help="seconds after the earliest sample to start counting at")
    ap.add_argument("--to", dest="end", type=float, default=None,
                    help="seconds after the earliest sample to stop counting at")
    ap.add_argument("--top", type=int, default=10,
                    help="rows of the thread and `other` site tables")
    ap.add_argument("--within", action="append", default=[], metavar="FRAME",
                    help="also total the samples with a frame containing FRAME "
                         "on their stack (repeatable)")
    a = ap.parse_args()

    rows = [(seconds(ts) if ts else 0.0, thread, category(frames),
             frames[0] if frames else "?",
             [f for f in a.within if any(f in fr for fr in frames)], w)
            for ts, thread, frames, w in samples(a.recording)]
    t0 = min((r[0] for r in rows), default=0.0)
    by_thread = collections.Counter()
    by_cat = collections.Counter()
    other = collections.Counter()
    within = collections.Counter({f: 0.0 for f in a.within})
    for t, thread, cat, site, hits, w in rows:
        if (a.start is not None and t - t0 < a.start) or \
                (a.end is not None and t - t0 > a.end):
            continue
        by_thread[re.sub(r"\d+", "#", thread)] += w
        by_cat[cat] += w
        if cat == "other":
            other[site] += w
        for f in hits:
            within[f] += w
    total = sum(by_cat.values())
    if not total:
        sys.exit("no jdk.ObjectAllocationSample events in the window")
    table("thread", by_thread, total, a.top)
    table("category", by_cat, total)
    if other and a.top:
        table("`other` allocation site", other, total, a.top)
    if within:
        table("samples within frame", within, total)


if __name__ == "__main__":
    main()
