"""Determinism self-test of the benchmark.

Runs each workload twice on the reduced graph with one seed, traced, and
checks that the answer digest and every count repeat exactly; a second seed
must change the digest. It also checks the serving claim that served reads
launch no Spark job. Takes a few minutes:

    python3 -m unittest discover -s perfbench/test -v
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
OUT = ROOT / ".bench_build" / "perfbench" / "test"
# long enough on the reduced graph for serve_mixed to compact at least once
SECONDS = {"serve_read": 2, "serve_mixed": 14, "batch_analytics": 2}
COUNTS = [
    "serve.files_routed", "serve.rows_out", "write.commits", "compact.runs",
    "store_bytes_per_edge", "spark.jobs.serve", "spark.jobs.append", "spark.jobs.tomb",
    "spark.jobs.update", "spark.jobs.compact", "spark.jobs.pagerank", "spark.jobs.cc",
    "spark.jobs.bfs", "spark.jobs.fof_scan", "serve.wrong_type.point", "batch.wrong",
]


def run(workload, seed, tag):
    OUT.mkdir(parents=True, exist_ok=True)
    report = OUT / f"{workload}-{seed}-{tag}.json"
    report.unlink(missing_ok=True)
    r = subprocess.run(
        [sys.executable, str(HERE.parent / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(SECONDS[workload]), "--trace", "1", "--small", "--report", str(report)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(report.read_text())


class Determinism(unittest.TestCase):
    def check(self, workload):
        a = run(workload, 7, "a")
        b = run(workload, 7, "b")
        self.assertTrue(a["correct"], workload)
        self.assertEqual(a["digest"], b["digest"], f"{workload}: answers differ for one seed")
        for k in ("attempted", "failed"):
            self.assertEqual(a[k], b[k], f"{workload}: {k}")
        for k in COUNTS:
            self.assertEqual(a["metrics"][k], b["metrics"][k], f"{workload}: {k}")
        self.assertEqual(a["metrics"]["spark.jobs.serve"], 0, f"{workload}: served reads ran jobs")
        other = run(workload, 8, "a")
        self.assertNotEqual(a["digest"], other["digest"], f"{workload}: seed does not change inputs")
        return a

    def test_serve_read(self):
        a = self.check("serve_read")
        self.assertEqual(a["metrics"]["spark.jobs"], 0, "serve_read timed phase launched Spark jobs")

    def test_serve_mixed(self):
        a = self.check("serve_mixed")
        self.assertGreater(a["metrics"]["compact.runs"], 0, "serve_mixed never compacted")

    def test_batch_analytics(self):
        a = self.check("batch_analytics")
        self.assertGreater(a["metrics"]["spark.jobs"], 0)


if __name__ == "__main__":
    unittest.main()
