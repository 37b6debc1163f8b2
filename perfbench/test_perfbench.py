"""The benchmark's own tests: oracle agreement and positive controls.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. Each test builds (once) and runs the JVM,
so the file takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import traffic  # noqa: E402

SEED = 7
SECONDS = 10


def bench(workload, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "0", *extra],
        capture_output=True, text=True, cwd=run.ROOT, timeout=1200)
    if proc.returncode != 0:
        raise AssertionError(proc.stderr[-3000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def bound(metric):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


class OracleMatchesBatchPipeline(unittest.TestCase):
    """oracle.py equals NesConfig.pipeline run as a batch, per workload."""

    def check(self, workload):
        w = run.WORKLOADS[workload]
        d = os.path.join(run.BUILD, "test", workload)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        m = traffic.write_inputs(d, SEED, 4, 2000, w["nft_frac"])
        out = os.path.join(d, "batch-out")
        cp = run.build()
        subprocess.run(
            ["java", "-Xmx2g", *sum((["--add-opens", f"{p}=ALL-UNNAMED"]
                                     for p in run.JAVA_OPENS), []),
             "-cp", cp, "graft.perfbench.BatchReference", d, out,
             ",".join(m["blacklist"]), "1" if w["enrich"] else "0"],
            check=True, capture_output=True, timeout=600)
        tokens = oracle.load_tokens(os.path.join(d, "tokens.json")) if w["enrich"] else None
        want = sum(oracle.expected([os.path.join(d, "logs", f) for f in m["files"]],
                                   m["blacklist"], tokens).values(), oracle.collections.Counter())
        got = oracle.read_sink(out)
        self.assertGreater(sum(want.values()), 1000)
        self.assertEqual(oracle.compare(want, got), (sum(want.values()), 0))

    def test_route_open(self):
        self.check("route_open")

    def test_enrich_drain(self):
        self.check("enrich_drain")


class PositiveControls(unittest.TestCase):
    """A planted regression must trip the metric that guards it."""

    def test_sink_sleep_pushes_lines_per_s_past_bound(self):
        clean = bench("enrich_drain")["metrics"]["lines_per_s"]["value"]
        slowed = bench("enrich_drain", "--plant-sink-sleep-ms", "1000")
        self.assertLess(slowed["metrics"]["lines_per_s"]["value"],
                        clean * (1 - bound("lines_per_s")))

    def test_dropped_record_fails(self):
        res = bench("route_open", "--plant-drop-record")
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])


if __name__ == "__main__":
    unittest.main()
