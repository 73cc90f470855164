"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They check that the generator is a pure function of the seed, and that
every workload runs, passes its output check and its plan check (a scan of
its inputs reads the text or embedding column) on a short run.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

TMP = os.path.join(".bench_build", "test")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def gen(self, workload, seed, name):
        out = os.path.join(TMP, name)
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_gives_identical_bytes_and_another_seed_differs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = self.gen(w, 7, "a"), self.gen(w, 7, "b"), self.gen(w, 8, "c")
                self.assertEqual(files(a), files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
                self.assertTrue(any(m.startswith(("docs", "vectors")) for m in mismatch))


class WorkloadTest(unittest.TestCase):
    def test_each_workload_passes_its_checks(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", "3", "--seconds", "1", "--trace", "0"],
                                   capture_output=True, text=True, timeout=900)
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                lines = r.stdout.strip().splitlines()
                self.assertFalse([ln for ln in lines if "CHECK FAILED" in ln])
                schemas = next(ln for ln in lines if ln.startswith("[perfbench] read schemas:"))
                self.assertRegex(schemas, r"\b(text|embedding)\b")
                result = json.loads(lines[-1])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
