"""Tests of the benchmark's tracer: two traced runs of the same seed.

    python3 graftbench/tests/test_tracer.py [workload ...]

Run from the root of a checkout; defaults to every workload in
BENCHMARK.json. Each workload is run twice with `--trace 1` and the
same seed, and the test checks that:

* both runs pass every output check and report every per-layer metric
  named in BENCHMARK.json;
* every span of the workload did work (jobs > 0) in every op the
  metrics come from, and no job fell outside the declared spans;
* `jobs` and `tasks` of every span repeat exactly;
* byte counters (`shuffle_mb`, `io_mb`) agree within BYTES_TOLERANCE.

Each run starts a fresh JVM, so a workload costs about four minutes.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
BYTES_TOLERANCE = 0.005  # shuffle and parquet bytes, relative
SEED = 7

sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def traced_run(workload):
    """`(result, report)` of one traced run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "..", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(BENCH["run_seconds"]), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} traced run failed: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    report = next(l for l in lines if l.startswith("GRAFTBENCH-REPORT "))
    return json.loads(lines[-1]), json.loads(report[len("GRAFTBENCH-REPORT "):])


def span_traces(report):
    """`(spans, trace)` for every trace the reported metrics come from:
    the measured ops, and a traced medallion run's daily ingest."""
    own = [s for s in run.SPANS[report["workload"]] if s not in run.DAILY_SPANS]
    out = [(own, t) for t in report["traces"][-report["measured"]:]]
    if "daily" in report:
        d = report["daily"]
        out.append((["bootstrap"], d["setup_trace"]))
        out += [(run.DAILY_SPANS[1:], op["trace"]) for op in d["ops"]
                if op["kind"] == "measured"]
    return out


class TracerRepeats(unittest.TestCase):
    workloads = [w["name"] for w in BENCH["workloads"]]

    def test_two_traced_runs_agree(self):
        declared = {m["name"] for m in BENCH["per_layer"]}
        for w in self.workloads:
            with self.subTest(workload=w):
                (a, ra), (b, rb) = traced_run(w), traced_run(w)
                for r, rep in ((a, ra), (b, rb)):
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertEqual(set(r["metrics"]), declared)
                    for spans, t in span_traces(rep):
                        self.assertEqual(t["unattributed.jobs"], 0)
                        for s in spans:
                            self.assertGreater(t[f"{s}.jobs"], 0, s)
                va = {k: v["value"] for k, v in a["metrics"].items()}
                vb = {k: v["value"] for k, v in b["metrics"].items()}
                for k in sorted(declared):
                    if k.endswith((".jobs", ".tasks")):
                        self.assertEqual(va[k], vb[k], k)
                    elif k.endswith((".shuffle_mb", ".io_mb")):
                        self.assertLessEqual(abs(va[k] - vb[k]),
                                             BYTES_TOLERANCE * max(va[k], vb[k]), k)


if __name__ == "__main__":
    if len(sys.argv) > 1:
        TracerRepeats.workloads = sys.argv[1:]
    unittest.main(argv=sys.argv[:1])
