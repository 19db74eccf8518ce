"""Span analysis for a traced run.

A span file holds one JSON object per line with `id`, `name`, `layer`,
`start`, `end` (epoch seconds), `parent` (an id or null) and `query`.
The harness writes three kinds: a pass (`layer` "harness", no parent),
a query call (`layer` = the query's registry module, parent = its
pass) and a Spark job (`layer` "spark", parent = the query that ran
it).

A layer's self time is the duration of its spans minus the part of
each span's interval that its child spans cover.

Usage: python3 perfbench/spans.py <spans.jsonl>
"""
import json
import statistics
import sys

TRACED_PASS = "warm.traced"
UNTRACED_PASS = "warm"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def _children(spans):
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _descendants(spans, roots):
    kids = _children(spans)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def passes(spans, name):
    return [s for s in spans if s["parent"] is None and s["name"] == name]


def self_times(spans, pass_name=None):
    """Self seconds per layer, over the passes named `pass_name` (all
    spans when None)."""
    if pass_name is not None:
        spans = _descendants(spans, passes(spans, pass_name))
    kids = _children(spans)
    out = {}
    for s in spans:
        inner = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        dur = s["end"] - s["start"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + dur - covered(inner, s["start"], s["end"])
    return out


def job_seconds(spans, pass_name=TRACED_PASS):
    """Wall seconds during which at least one Spark job ran, summed
    over the passes named `pass_name`."""
    total = 0.0
    for p in passes(spans, pass_name):
        jobs = [(s["start"], s["end"]) for s in _descendants(spans, [p]) if s["layer"] == "spark"]
        total += covered(jobs, p["start"], p["end"])
    return total


def overhead(spans):
    """Median traced warm pass over median untraced warm pass, minus 1.
    The first warm pass is left out: it still pays JIT warm-up."""
    first = min((s["start"] for s in passes(spans, TRACED_PASS) + passes(spans, UNTRACED_PASS)),
                default=None)

    def med(name):
        walls = [s["end"] - s["start"] for s in passes(spans, name) if s["start"] != first]
        return statistics.median(walls) if walls else None
    traced, untraced = med(TRACED_PASS), med(UNTRACED_PASS)
    if not traced or not untraced:
        return None
    return traced / untraced - 1.0


def summary(spans):
    return {
        "self_s": self_times(spans, TRACED_PASS),
        "traced_passes": len(passes(spans, TRACED_PASS)),
        "untraced_passes": len(passes(spans, UNTRACED_PASS)),
        "job_s": job_seconds(spans),
        "overhead_ratio": overhead(spans),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    print(json.dumps(summary(load(sys.argv[1])), indent=1, sort_keys=True))
