#!/usr/bin/env python3
"""Tests of the benchmark harness itself.

    python3 -m unittest etlbench/test_harness.py

Run from the root of a checkout. They build the program on first use and
start two runs of each workload (several minutes in all).
"""
import json
import subprocess
import sys
import unittest

with open("BENCHMARK.json") as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# the spans and harness-measured metrics each workload produces; every
# other per-layer metric reads 0 on it
OWN = {
    "reference_etl": ("pipeline.IssuesPipeline.run.", "pipeline.ExecutiveDedupPipeline.run.",
                      "sources.", "operators.SimilarityJoin.pair_yield"),
    "corpus_index": ("streaming.", "operators.RetrievalIndex.", "operators.Maintenance.",
                     "operators.Snapshot.", "index.", "serve_ms", "replica_lag_ms"),
}


def run(workload, trace):
    """One ordinary run of seed 3: its record and result lines."""
    out = subprocess.run([sys.executable, "etlbench/run.py", "--workload", workload,
                          "--seed", "3", "--trace", str(trace)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        raise AssertionError(f"{workload} --trace {trace}: run.py exited {out.returncode}")
    record, result = [json.loads(l) for l in out.stdout.strip().splitlines()[-2:]]
    return record["record"], result


class HarnessTest(unittest.TestCase):
    """One untraced and one traced run of each workload, both with the same
    seed: their inputs must be identical, and each must emit exactly its
    declared metric set.
    """

    def check_metrics(self, workload, trace, record, result):
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], record["failures"])
        self.assertEqual(list(result["metrics"]), [m["name"] for m in declared])
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        missing = record["missing"]
        if not trace:
            self.assertEqual(missing, [], "every end-to-end metric is measured")
            self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))
        else:
            for name in [m["name"] for m in declared]:
                if name.startswith(OWN[workload] + ("pass.",)):
                    self.assertNotIn(name, missing, f"{workload} measures {name}")
                if name.startswith(sum((OWN[w] for w in WORKLOADS if w != workload), ())):
                    self.assertIn(name, missing, f"{workload} never calls {name}")

    def test_workloads(self):
        for w in WORKLOADS:
            digests = []
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    record, result = run(w, trace)
                    digests.append(record["input_digest"])
                    self.check_metrics(w, trace, record, result)
            self.assertEqual(digests[0], digests[1], f"{w}: the same seed gave other inputs")


if __name__ == "__main__":
    unittest.main()
