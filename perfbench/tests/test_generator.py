"""Generator determinism: the same seed gives the same inputs, within one
JVM (each run generates its inputs several times and reports whether
the digests agree) and across JVMs; another seed gives other
inputs. Runs the benchmark itself, three runs per workload (a few minutes
in all; the first run also builds).

    python3 -m unittest discover -s perfbench/tests
"""
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

LINE = re.compile(r"perfbench input (\S+) seed=(\d+) rows=(\d+) bytes=(\d+) digest=(\w+) "
                  r"generations=(\d+) deterministic=(\w+)")


def generate(workload, seed):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                          "--seconds", "0", "--trace", "0"], cwd=build.ROOT, capture_output=True, text=True,
                         check=True).stdout
    m = LINE.search(out)
    return {"rows": int(m.group(3)), "bytes": int(m.group(4)), "digest": m.group(5),
            "generations": int(m.group(6)), "deterministic": m.group(7) == "true"}


class Determinism(unittest.TestCase):
    def test_each_workload(self):
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload):
                first = generate(workload, 7)
                second = generate(workload, 7)
                other = generate(workload, 8)
                self.assertGreaterEqual(first["generations"], 2)
                self.assertTrue(first["deterministic"])
                self.assertEqual(first["digest"], second["digest"])
                self.assertEqual(first["bytes"], second["bytes"])
                self.assertNotEqual(first["digest"], other["digest"])
                self.assertGreater(first["rows"], 0)


if __name__ == "__main__":
    unittest.main()
