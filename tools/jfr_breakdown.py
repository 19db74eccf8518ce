"""Where a JVM's CPU samples went: per thread and per library family.

Reads the JSON that `jfr print --json --stack-depth 80 --events
jdk.ExecutionSample <file>.jfr` writes (stdin or a file) and counts the
execution samples in a time window, per thread and per family. A
sample's family is the first frame, walking from the leaf toward the
root, whose class matches one of FAMILIES; a sample with no such frame
is `other`. Threads are grouped by name with digit runs folded to `N`,
so Spark's per-task executor names count as one row.

Usage:
  jfr print --json --stack-depth 80 --events jdk.ExecutionSample run.jfr > run.json
  python3 tools/jfr_breakdown.py run.json [--start EPOCH_S] [--end EPOCH_S] [--json]

`jfr print` keeps 5 frames per stack by default, which stops short of
Spark's own frames; 80 reaches them.

`--start`/`--end` bound the window in epoch seconds (a profiled program can print
`System.currentTimeMillis() / 1e3` around the query it profiles).
"""
import argparse
import calendar
import json
import re
import sys
from collections import Counter

# (family, class-name prefixes), in match order. Class names are dotted.
FAMILIES = [
    ("icu", ("com.ibm.icu.",)),
    ("janino", ("org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("zip/classload", ("java.util.zip.", "java.util.jar.", "jdk.internal.loader.",
                       "java.lang.ClassLoader", "java.net.URLClassLoader",
                       "jdk.internal.misc.Unsafe.defineClass")),
    ("analysis/optimizer", ("org.apache.spark.sql.catalyst.analysis.",
                            "org.apache.spark.sql.catalyst.optimizer.",
                            "org.apache.spark.sql.catalyst.rules.")),
    ("netty", ("io.netty.",)),
]
OTHER = "other"


def parse_time(stamp):
    """Epoch seconds of a JFR timestamp such as
    `2026-10-19T22:58:48.418196759Z` (nanoseconds, UTC)."""
    m = re.fullmatch(r"(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):(\d\d)(\.\d+)?Z", stamp)
    if not m:
        raise ValueError(f"unexpected JFR timestamp {stamp!r}")
    whole = calendar.timegm(tuple(int(g) for g in m.groups()[:6]))
    return whole + float(m.group(7) or 0.0)


def frame_name(frame):
    method = frame["method"]
    return method["type"]["name"].replace("/", ".") + "." + method["name"]


def family(names):
    """Family of a sample whose frames, leaf first, are `names`."""
    for name in names:
        for fam, prefixes in FAMILIES:
            if name.startswith(prefixes):
                return fam
    return OTHER


def thread_group(values):
    thread = values.get("sampledThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.sub(r"\d+", "N", name)


def breakdown(events, start=None, end=None):
    """Counts of the execution samples in [start, end] (epoch seconds,
    either may be None)."""
    threads, families, cells = Counter(), Counter(), Counter()
    first = last = None
    for event in events:
        if event.get("type") != "jdk.ExecutionSample":
            continue
        values = event["values"]
        t = parse_time(values["startTime"])
        if (start is not None and t < start) or (end is not None and t > end):
            continue
        names = [frame_name(f) for f in (values.get("stackTrace") or {}).get("frames", [])]
        thread, fam = thread_group(values), family(names)
        threads[thread] += 1
        families[fam] += 1
        cells[(thread, fam)] += 1
        first = t if first is None else min(first, t)
        last = t if last is None else max(last, t)
    return {
        "samples": sum(threads.values()),
        "first_s": first,
        "last_s": last,
        "threads": dict(threads.most_common()),
        "families": dict(families.most_common()),
        "thread_family": {f"{th} | {fam}": n for (th, fam), n in cells.most_common()},
    }


def render(result):
    lines = [f"samples: {result['samples']}"]
    if result["samples"]:
        lines.append(f"window of samples: {result['first_s']:.3f} .. {result['last_s']:.3f}"
                     f" ({result['last_s'] - result['first_s']:.2f} s)")
    for key in ("families", "threads"):
        lines.append(f"{key}:")
        lines += [f"  {n:6d}  {name}" for name, n in result[key].items()]
    return "\n".join(lines)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("json_file", nargs="?", default="-")
    ap.add_argument("--start", type=float)
    ap.add_argument("--end", type=float)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    if args.json_file == "-":
        doc = json.load(sys.stdin)
    else:
        with open(args.json_file) as f:
            doc = json.load(f)
    result = breakdown(doc["recording"]["events"], args.start, args.end)
    print(json.dumps(result, indent=1) if args.json else render(result))


if __name__ == "__main__":
    main(sys.argv[1:])
