#!/usr/bin/env python3
"""Fold a Java Flight Recorder recording into graft's profile tables.

    python3 scripts/jfr_profile.py RECORDING.jfr

Runs `jfr print --json` (the JDK's `jfr` tool, found on PATH or under
$JAVA_HOME/bin) on the recording and prints:

- execution samples per thread group (executor tasks, driver, Spark
  internals, other), as a share of all samples;
- executor-thread samples and sampled allocation per named layer (XML
  parse and its three parts, parquet write, Janino compile, ...). A
  sample under Janino or a class load belongs to that; any other to
  the layer whose rule matches the frame nearest the top of its stack,
  so a gzip read called from the XML parser counts as decode;
- JIT compile time: the change of `jdk.CompilerStatistics`'
  totalTimeSpent over the recording, with the compile count;
- generated-code class loaders (Janino's, one per compiled class) in
  the last `jdk.ClassLoaderStatistics` snapshot, and the classes they
  hold.

A recording made with `settings=profile` samples every 10-20 ms, so a
short run gives a few thousand samples; shares below 1 % are noise.
Standard library only.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

EVENTS = ["jdk.ExecutionSample", "jdk.ObjectAllocationSample",
          "jdk.CompilerStatistics", "jdk.ClassLoaderStatistics"]

THREAD_GROUPS = [
    ("executor tasks", r"^Executor task launch worker"),
    ("driver", r"^(main|dmarcbench|ScalaTest|pool-\d+-thread-\d+)"),
    ("spark internals", r"^(dag-scheduler|spark-listener|broadcast-exchange|subquery|"
                        r"dispatcher|rpc|netty|shuffle|block-manager|driver-|executor-|"
                        r"heartbeat|task-result|files-client|Spark Context Cleaner|"
                        r"map-output|RemoteBlock|BlockManager)"),
]

# (layer, regex over "class.method" of one frame). A CONTEXTS rule names
# the layer of every sample with a matching frame anywhere in its stack
# (Janino reads jars and builds strings; that is still compile work).
# Otherwise the first frame from the top of the stack that matches a
# LAYERS rule names the layer; among the rules matching that frame the
# first listed wins.
CONTEXTS = [
    ("Janino compile (CodeGenerator.doCompile)",
     r"^(org\.codehaus\.(janino|commons\.compiler)\.|.*CodeGenerator\$\.doCompile)"),
    ("class loading", r"^java\.lang\.ClassLoader\.loadClass$"),
]
LAYERS = [
    # `\` and `.text` on the parsed tree; constructors match nothing, so
    # a node built by the parser counts where it was built
    ("XML parse: \\ navigation",
     r"^scala\.xml\.(NodeSeq|ScalaVersionSpecificNodeSeq|Node|Elem)\b(?!.*\.<init>$)"),
    ("XML parse: scala-xml DOM build", r"^scala\.xml\.(parsing|factory)\."),
    ("XML parse: xerces scan", r"^(com\.sun\.)?org\.apache\.xerces\."),
    ("XML parse: fromXml itself", r"^graft\.sources\.AggregateXmlParser"),
    ("decode (gzip/zip/MIME)", r"^(java\.util\.zip\.|jakarta\.mail\.|javax\.mail\.|org\.apache\.commons\.compress\.|graft\.sources\.Extract)"),
    ("JSON parse", r"^com\.fasterxml\.jackson\."),
    ("parquet write", r"^(org\.apache\.parquet\.(hadoop\.(InternalParquetRecordWriter|ParquetFileWriter|ParquetOutputFormat|CodecFactory\$HeapBytesCompressor)|column\.(impl\.ColumnWriter|values)|bytes)|org\.apache\.spark\.sql\.execution\.datasources\.parquet\.(ParquetWriteSupport|ParquetOutputWriter))"),
    ("parquet read", r"^(org\.apache\.parquet\.|org\.apache\.spark\.sql\.execution\.datasources\.parquet\.)"),
    ("file write (datasource commit/output)", r"^org\.apache\.spark\.sql\.execution\.datasources\.(FileFormatWriter|FileFormatDataWriter|SingleDirectoryDataWriter|DynamicPartitionDataSingleWriter|BaseDynamicPartitionDataWriter)"),
    ("shuffle", r"^org\.apache\.spark\.(shuffle|storage\.(ShuffleBlockFetcherIterator|DiskBlockObjectWriter))\."),
    ("compression (lz4/zstd/snappy)", r"^(net\.jpountz\.|com\.github\.luben\.|org\.xerial\.snappy\.|io\.airlift\.compress\.)"),
    ("sort", r"^org\.apache\.spark\.util\.collection\.unsafe\.sort\."),
    ("in-memory columnar cache", r"^org\.apache\.spark\.sql\.execution\.columnar\."),
    ("block store", r"^org\.apache\.spark\.(storage\.|util\.SizeEstimator)"),
    ("Java (de)serialization", r"^(java\.io\.Object(Input|Output)Stream|java\.io\.ObjectStreamClass|org\.apache\.spark\.serializer\.)"),
    ("generated code", r"(GeneratedClass|GeneratedIterator)"),
    ("hadoop fs", r"^org\.apache\.hadoop\.fs\."),
]

COMPILED_CONTEXTS = [(name, re.compile(rx)) for name, rx in CONTEXTS]
COMPILED = [(name, re.compile(rx)) for name, rx in LAYERS]
GROUPS = [(name, re.compile(rx)) for name, rx in THREAD_GROUPS]
SEP = re.compile(r"[\s,]*")


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    cand = os.path.join(home, "bin", "jfr") if home else None
    if cand and os.path.exists(cand):
        return cand
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_profile: no `jfr` tool on PATH or under $JAVA_HOME/bin")
    return found


def events(path):
    """Yield the recording's events one at a time: a minute of samples
    prints as a gigabyte of JSON, too much to hold at once."""
    cmd = [jfr_tool(), "print", "--json", "--stack-depth", "64",
           "--events", ",".join(EVENTS), path]
    dec, buf, started = json.JSONDecoder(), "", False
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as p:
        for chunk in iter(lambda: p.stdout.read(1 << 20), ""):
            buf += chunk
            if not started:
                # {"recording": {"events": [ -- the first '[' opens the list
                i = buf.find("[")
                if i < 0:
                    continue
                buf, started = buf[i + 1:], True
            pos = 0
            while True:
                pos = SEP.match(buf, pos).end()
                if not buf.startswith("{", pos):
                    break
                try:
                    event, pos = dec.raw_decode(buf, pos)
                except json.JSONDecodeError:
                    break  # the rest of this event is in the next chunk
                yield event
            buf = buf[pos:]
    if p.returncode:
        sys.exit(f"jfr_profile: {' '.join(cmd)} exited with {p.returncode}")


def frame_name(f):
    m = f.get("method") or {}
    t = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{t}.{m.get('name', '?')}"


def layer_of(stack):
    names = [frame_name(f) for f in (stack or {}).get("frames", [])]
    for layer, rx in COMPILED_CONTEXTS:
        if any(rx.search(name) for name in names):
            return layer
    for name in names:
        for layer, rx in COMPILED:
            if rx.search(name):
                return layer
    return "other"


def group_of(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or ""
    for g, rx in GROUPS:
        if rx.search(name):
            return g
    return "other"


def seconds(v):
    """A JFR duration as printed in JSON: ISO-8601 (PT1M2.5S), or a number of ns."""
    if isinstance(v, (int, float)):
        return v / 1e9
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", str(v))
    if not m:
        return float("nan")
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def table(title, counts, total, unit="samples"):
    print(f"\n{title}  (100 % = {total:,} {unit})")
    rows = counts.copy()
    # "XML parse: xerces scan" and its siblings also print as one total
    for k, v in counts.items():
        if ": " in k:
            rows[k.split(": ")[0] + " (all parts)"] += v
    for k, v in rows.most_common():
        print(f"  {k:<44} {100.0 * v / total if total else 0:6.1f} %  {v:>12,}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    args = ap.parse_args()

    groups, layers, alloc = Counter(), Counter(), Counter()
    compiler, loaders = [], []
    for e in events(args.recording):
        t, v = e["type"], e["values"]
        if t == "jdk.ExecutionSample":
            g = group_of(v.get("sampledThread"))
            groups[g] += 1
            if g == "executor tasks":
                layers[layer_of(v.get("stackTrace"))] += 1
        elif t == "jdk.ObjectAllocationSample":
            if group_of(v.get("eventThread")) == "executor tasks":
                alloc[layer_of(v.get("stackTrace"))] += int(v.get("weight", 0))
        elif t == "jdk.CompilerStatistics":
            compiler.append(v)
        elif t == "jdk.ClassLoaderStatistics":
            loaders.append(v)

    table("execution samples by thread group", groups, sum(groups.values()))
    table("executor-thread execution samples by layer", layers, sum(layers.values()))
    table("executor-thread sampled allocation by layer", alloc, sum(alloc.values()), "bytes")

    if len(compiler) >= 2:
        first, last = compiler[0], compiler[-1]
        spent = seconds(last["totalTimeSpent"]) - seconds(first["totalTimeSpent"])
        print(f"\nJIT compile time over the recording: {spent:.1f} s "
              f"({last['compileCount'] - first['compileCount']:,} compilations; "
              f"{seconds(last['totalTimeSpent']):.1f} s since JVM start)")
    else:
        print("\nJIT compile time: fewer than two jdk.CompilerStatistics events")

    if loaders:
        # one snapshot per chunk, its events within the same second; the
        # last one is the state at the end
        end = max(l.get("startTime", "") for l in loaders)[:19]
        snap = [l for l in loaders if l.get("startTime", "").startswith(end)]
        janino = [l for l in snap
                  if ((l.get("classLoader") or {}).get("type") or {}).get("name", "")
                  .startswith("org/codehaus/")]
        print(f"\ngenerated-code class loaders at the end: {len(janino):,} Janino loaders "
              f"holding {sum(int(l.get('classCount', 0)) for l in janino):,} classes "
              f"({len(snap):,} class loaders in all)")


if __name__ == "__main__":
    main()
