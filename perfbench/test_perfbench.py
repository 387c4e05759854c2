"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The manifest test builds the program (first time only) and validates a tiny
generated submission twice, about two minutes on four cores.
"""
import os
import shutil
import tempfile
import time
import unittest

import checks
import gen_submission
import run


def _scratch():
    os.makedirs(run.BUILD, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=run.BUILD)


def _files(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = _scratch()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for dirty in (False, True):
            out = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(self.dir, f"{dirty}-{tag}")
                gen_submission.generate(d, seed, 50, dirty)
                out[tag] = _files(d)
            self.assertEqual(out["a"], out["b"])
            self.assertEqual(sorted(out["a"]), sorted(out["c"]))
            self.assertNotEqual(out["a"], out["c"])


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [3.0, 1.0, 2.0, 4.0]
        self.assertEqual(checks.percentile(xs, 0), 1.0)
        self.assertEqual(checks.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(checks.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(checks.percentile(list(range(1, 11)), 90), 9.1)
        self.assertEqual(checks.percentile([5.0], 90), 5.0)
        self.assertEqual(checks.median([2.0, 9.0, 1.0]), 2.0)

    def test_rejects_empty(self):
        with self.assertRaises(ValueError):
            checks.percentile([], 50)


class ManifestCheckTest(unittest.TestCase):
    """The manifest check passes on the validator's real output, and a
    single flipped cell in the submission makes it fail."""

    def setUp(self):
        self.dir = _scratch()
        run.build()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def _validate(self, sub, manifest, tag):
        result = os.path.join(self.dir, f"{tag}.json")
        out = os.path.join(self.dir, f"out-{tag}")
        run.harness(["submission", sub, out, "0", "0", run.cores(), str(manifest["cbc"]),
                     manifest["as_of"], result], os.path.join(self.dir, f"{tag}.log"),
                    time.monotonic() + 170)
        p = run.read_json(result)["passes"][0]
        return checks.check_submission(manifest, p["dir"], p["written"], p["severity"],
                                       p["status"])

    def test_passes_then_fails_on_one_flipped_cell(self):
        sub = os.path.join(self.dir, "submission")
        manifest = gen_submission.generate(sub, 11, 40, True)
        self.assertEqual(self._validate(sub, manifest, "as-generated"), [])

        path = os.path.join(sub, "demographic.csv")
        with open(path) as f:
            lines = f.read().split("\n")
        col = gen_submission.SHEETS["demographic.csv"].index("Race")
        for i in range(1, len(lines)):
            cells = lines[i].split(",")
            if cells[col] != "Martian":
                cells[col] = "Martian"
                lines[i] = ",".join(cells)
                break
        with open(path, "w") as f:
            f.write("\n".join(lines))
        problems = self._validate(sub, manifest, "flipped")
        self.assertTrue(any(p.startswith("demographic.csv|Race|Error") for p in problems),
                        problems)


if __name__ == "__main__":
    unittest.main()
