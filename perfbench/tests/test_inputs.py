"""The input generators are a function of the seed."""

import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import inputs  # noqa: E402


def tree_equal(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.diff_files or c.funny_files:
        return False
    same, diff, err = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not diff and not err and all(tree_equal(os.path.join(a, d), os.path.join(b, d))
                                        for d in c.common_dirs)


class Inputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.d = tempfile.mkdtemp(dir=build.build_dir())

    def tearDown(self):
        shutil.rmtree(self.d, ignore_errors=True)

    def p(self, *xs):
        return os.path.join(self.d, *xs)

    def test_corpus_same_seed_same_bytes(self):
        inputs.corpus(self.p("a"), shuffle_seed=3)
        inputs.corpus(self.p("b"), shuffle_seed=3)
        inputs.corpus(self.p("c"), shuffle_seed=4)
        self.assertTrue(tree_equal(self.p("a"), self.p("b")))
        self.assertFalse(tree_equal(self.p("a"), self.p("c")))

    def test_warc_and_csvs_same_seed_same_bytes(self):
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            inputs.warc(self.p(name, "warc"), 2, 10, 4, seed)
            inputs.cpms_csvs(self.p(name, "csv"), seed, 20)
        self.assertTrue(tree_equal(self.p("a"), self.p("b")))
        self.assertFalse(tree_equal(self.p("a"), self.p("c")))

    def test_cpms_csvs_have_no_orphans(self):
        import csv
        users, n_scores, n_risks = inputs.cpms_csvs(self.p("csv"), 5, 30)
        owned = set()
        with open(self.p("csv", "users.csv")) as fh:
            for row in csv.DictReader(fh):
                owned |= set(eval(row["cognitive_scores"])) | set(eval(row["risk_trackings"]))
        with open(self.p("csv", "tracking_risks.csv")) as fh:
            rows = list(csv.DictReader(fh))
        self.assertIn("hearth_rate", rows[0])
        self.assertTrue(all(r["tr_id"] in owned for r in rows))
        self.assertEqual((len(users), len(rows)), (30, n_risks))


if __name__ == "__main__":
    unittest.main()
