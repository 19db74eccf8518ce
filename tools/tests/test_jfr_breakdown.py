"""Unit tests of tools/jfr_breakdown.py on a small synthetic recording.

Run: python3 -m unittest discover -s tools/tests
"""
import io
import json
import os
import sys
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import jfr_breakdown as jb  # noqa: E402

T0 = "2026-01-02T03:04:05"


def frame(cls, method):
    return {"method": {"name": method, "type": {"name": cls.replace(".", "/")}},
            "lineNumber": 1, "type": "Interpreted"}


def sample(second, thread, frames, kind="jdk.ExecutionSample"):
    return {"type": kind, "values": {
        "startTime": f"{T0[:-2]}{second:02d}.250000000Z",
        "sampledThread": {"javaName": thread, "osName": thread},
        "state": "STATE_RUNNABLE",
        "stackTrace": {"truncated": False, "frames": frames}}}


CLINIT = frame("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String", "<clinit>")
EVENTS = [
    # ICU under the case-map initialiser, on two executor task threads.
    sample(5, "Executor task launch worker for task 0.0 (TID 0)",
           [frame("com.ibm.icu.impl.UCaseProps", "getTitle"),
            frame("com.ibm.icu.lang.UCharacter", "toTitleCase"), CLINIT]),
    sample(6, "Executor task launch worker for task 1.0 (TID 1)",
           [frame("java.lang.StringBuilder", "<init>"),
            frame("com.ibm.icu.impl.CaseMapImpl", "toTitle"), CLINIT]),
    # The leaf-most family frame decides: an inflate under Janino is classload.
    sample(7, "main", [frame("java.util.zip.Inflater", "inflate"),
                       frame("org.codehaus.janino.SimpleCompiler", "cook")]),
    sample(8, "main", [frame("scala.collection.immutable.List", "map"),
                       frame("org.codehaus.janino.UnitCompiler", "compileUnit")]),
    sample(9, "main", [frame("scala.collection.immutable.List", "map"),
                       frame("org.apache.spark.sql.catalyst.optimizer.ColumnPruning$", "apply")]),
    sample(10, "rpc-server-4-1", [frame("io.netty.channel.nio.NioEventLoop", "run")]),
    sample(11, "main", [frame("graft.text.TextQueries$", "wordcount")]),
    sample(12, "main", []),
    # Not an execution sample: ignored.
    sample(9, "main", [frame("com.ibm.icu.impl.UCaseProps", "getTitle")],
           kind="jdk.NativeMethodSample"),
]


def epoch(second):
    return jb.parse_time(f"{T0[:-2]}{second:02d}Z")


class BreakdownTest(unittest.TestCase):
    def test_parse_time_keeps_fraction(self):
        self.assertAlmostEqual(jb.parse_time("1970-01-01T00:01:00.5Z"), 60.5)
        with self.assertRaises(ValueError):
            jb.parse_time("yesterday")

    def test_families_and_threads_over_all_samples(self):
        r = jb.breakdown(EVENTS)
        self.assertEqual(r["samples"], 8)
        self.assertEqual(r["families"], {"icu": 2, "zip/classload": 1, "janino": 1,
                                         "analysis/optimizer": 1, "netty": 1, "other": 2})
        # Digit runs fold, so per-task executor names share one row.
        self.assertEqual(r["threads"], {
            "main": 5, "Executor task launch worker for task N.N (TID N)": 2,
            "rpc-server-N-N": 1})
        self.assertEqual(r["thread_family"]["Executor task launch worker for task N.N (TID N) | icu"], 2)
        self.assertAlmostEqual(r["first_s"], epoch(5) + 0.25)
        self.assertAlmostEqual(r["last_s"], epoch(12) + 0.25)

    def test_window_bounds_are_inclusive_epoch_seconds(self):
        r = jb.breakdown(EVENTS, start=epoch(7), end=epoch(9) + 0.25)
        self.assertEqual(r["samples"], 3)
        self.assertEqual(set(r["families"]), {"zip/classload", "janino", "analysis/optimizer"})
        self.assertEqual(jb.breakdown(EVENTS, start=epoch(13))["samples"], 0)

    def test_cli_prints_table_and_json(self):
        path = os.path.join(os.environ.get("TMPDIR", "/tmp"), f"jfr_breakdown_test_{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"recording": {"events": EVENTS}}, f)
        try:
            out = io.StringIO()
            with redirect_stdout(out):
                jb.main([path, "--start", str(epoch(10))])
            self.assertIn("samples: 3", out.getvalue())
            self.assertIn("netty", out.getvalue())
            out = io.StringIO()
            with redirect_stdout(out):
                jb.main([path, "--json", "--end", str(epoch(8) + 0.25)])
            self.assertEqual(json.loads(out.getvalue())["samples"], 4)
        finally:
            os.remove(path)


if __name__ == "__main__":
    unittest.main()
