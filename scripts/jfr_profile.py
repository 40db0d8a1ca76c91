#!/usr/bin/env python3
"""Summarize JFR CPU samples by cost category and by graft call site.

Input is the JSON that `jfr print` writes for execution samples:

    jfr print --json --stack-depth 400 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 scripts/jfr_profile.py rec.json [--op-frame runOp] [--top 15]

The op window runs from the first to the last sample whose stack holds a
frame named like `--op-frame` (a substring of `package.Class.method`; the
benchmark's per-op method by default). Only samples inside it count, so
session start-up and setup stay out of the shares. If no frame matches,
the whole recording is used.

Two tables are printed:

* each sample is charged to the category of its leaf-most frame that
  matches a rule in CATEGORIES (parquet write, columnar cache, codegen,
  closure cleaner, Hadoop conf, planning, ...), else to `other`;
* samples on the driver thread (the stacks holding the op frame) are
  charged to their leaf-most `graft.*` frame, so engine steps like
  `graft.tables.MergeBuilder.executeGeneric` show their driver share.
"""
import argparse
import collections
import datetime
import json
import re
import sys

# (category, frame prefixes); a frame takes the first rule it matches
CATEGORIES = [
    ("columnar cache", ("org.apache.spark.sql.execution.columnar.",)),
    ("parquet dictionary", ("org.apache.parquet.column.values.dictionary.",)),
    ("parquet write", (
        "org.apache.parquet.hadoop.InternalParquetRecordWriter",
        "org.apache.parquet.hadoop.ParquetWriter",
        "org.apache.parquet.hadoop.ParquetFileWriter",
        "org.apache.parquet.hadoop.ColumnChunkPageWriteStore",
        "org.apache.parquet.column.impl.ColumnWriter",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter",
        "org.apache.spark.sql.execution.datasources.FileFormatDataWriter",
    )),
    # other parquet frames (encoders, byte buffers) match nothing, so they
    # are charged to the reader or writer frame above them
    ("parquet read", (
        "org.apache.parquet.hadoop.ParquetFileReader",
        "org.apache.parquet.column.impl.ColumnReader",
        "org.apache.spark.sql.execution.datasources.parquet.",
    )),
    ("codegen", (
        "org.codehaus.janino.",
        "org.codehaus.commons.compiler.",
        "org.apache.spark.sql.catalyst.expressions.codegen.",
    )),
    ("generated code", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("closure cleaner", ("org.apache.spark.util.ClosureCleaner", "org.apache.xbean.asm")),
    ("hadoop conf", ("org.apache.hadoop.conf.Configuration",)),
    ("process fork", (
        "java.lang.ProcessImpl",
        "java.lang.ProcessBuilder",
        "org.apache.hadoop.util.Shell",
    )),
    ("planning", (
        "org.apache.spark.sql.catalyst.rules.",
        "org.apache.spark.sql.catalyst.analysis.",
        "org.apache.spark.sql.catalyst.optimizer.",
        "org.apache.spark.sql.catalyst.trees.",
        "org.apache.spark.sql.execution.QueryExecution",
        "org.apache.spark.sql.execution.SparkStrategies",
        "org.apache.spark.sql.execution.adaptive.",
    )),
    ("shuffle and storage", (
        "org.apache.spark.shuffle.",
        "org.apache.spark.storage.",
        "org.apache.spark.util.collection.",
    )),
    ("serialization", (
        "org.apache.spark.serializer.",
        "com.esotericsoftware.kryo.",
        "java.io.ObjectOutputStream",
        "java.io.ObjectInputStream",
    )),
    ("json", ("com.fasterxml.jackson.", "org.json4s.")),
    ("scheduler and rpc", (
        "org.apache.spark.scheduler.",
        "org.apache.spark.rpc.",
        "io.netty.",
    )),
]

_TIME = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?$")


def parse_time(s):
    """ISO-8601 instant with up to nanosecond digits -> int nanoseconds."""
    m = _TIME.match(s)
    if not m:
        raise ValueError(f"unrecognized timestamp {s!r}")
    zone = m.group(3) or "Z"
    base = datetime.datetime.fromisoformat(
        m.group(1) + ("+00:00" if zone == "Z" else zone))
    frac = (m.group(2) or "").ljust(9, "0")[:9]
    return int(base.timestamp()) * 1_000_000_000 + int(frac)


def frame_name(frame):
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{method.get('name', '?')}"


def load_samples(doc):
    """(time ns, thread name, [frame names, leaf first]) per sample."""
    out = []
    for ev in doc.get("recording", {}).get("events", []):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        v = ev.get("values", {})
        thread = v.get("sampledThread") or {}
        frames = (v.get("stackTrace") or {}).get("frames") or []
        out.append((parse_time(v["startTime"]),
                    thread.get("javaName") or thread.get("osName") or "?",
                    [frame_name(f) for f in frames]))
    return out


def category(frames):
    for f in frames:
        for name, prefixes in CATEGORIES:
            if f.startswith(prefixes):
                return name
    return "other"


def graft_frame(frames):
    return next((f for f in frames if f.startswith("graft.")), "(no graft frame)")


def summarize(samples, op_frame):
    """Category and driver graft-frame counts over the op window."""
    on_op = [s for s in samples if any(op_frame in f for f in s[2])]
    if on_op:
        lo, hi = min(s[0] for s in on_op), max(s[0] for s in on_op)
        window = [s for s in samples if lo <= s[0] <= hi]
    else:
        lo = hi = None
        window = samples
    cats = collections.Counter(category(s[2]) for s in window)
    driver = collections.Counter(graft_frame(s[2]) for s in on_op)
    return {"window_ns": (lo, hi), "samples": len(window),
            "categories": cats, "driver_samples": len(on_op),
            "driver_frames": driver}


def table(title, counter, total, top):
    lines = [f"{title:<60} {'samples':>8} {'share':>7}"]
    for name, n in counter.most_common(top):
        lines.append(f"{name:<60} {n:>8} {100.0 * n / max(total, 1):>6.1f}%")
    return lines


def report(summary, top):
    lo, hi = summary["window_ns"]
    head = ("op window: whole recording (no op frame matched)" if lo is None
            else f"op window: {(hi - lo) / 1e9:.3f} s")
    lines = [f"{head}, {summary['samples']} samples", ""]
    lines += table("category", summary["categories"], summary["samples"], top)
    lines += ["", f"driver samples: {summary['driver_samples']}"]
    lines += table("driver graft frame", summary["driver_frames"],
                   summary["driver_samples"], top)
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("samples", help="jfr print --json output, or - for stdin")
    ap.add_argument("--op-frame", default="runOp",
                    help="substring of the frame that marks the op window")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    args = ap.parse_args(argv)
    if args.samples == "-":
        doc = json.load(sys.stdin)
    else:
        with open(args.samples) as f:
            doc = json.load(f)
    print(report(summarize(load_samples(doc), args.op_frame), args.top))


if __name__ == "__main__":
    main()
