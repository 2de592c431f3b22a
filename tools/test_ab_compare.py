"""Unit tests of tools/ab_compare.py on fixture lanes.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import os
import tempfile
import unittest
from contextlib import redirect_stdout

import ab_compare

# steady: head within the 0.2 s base spread (mean 1.15 vs 1.1); slower: the
# bases agree to 0.05 s and head's mean is 0.5 s above theirs
MEDIANS = {
    "base1": {"steady": 1.0, "slower": 2.0},
    "base2": {"steady": 1.2, "slower": 2.05},
    "head1": {"steady": 1.25, "slower": 2.5},
    "head2": {"steady": 1.05, "slower": 2.55},
}


class AbCompareTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        for lane, meds in MEDIANS.items():
            with open(os.path.join(self.dir, f"fx_{lane}.json"), "w") as f:
                json.dump({"queries": meds, "queries_med": meds, "per_rep": {}}, f)

    def run_cli(self):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = ab_compare.main(["ab_compare.py", "fx", self.dir])
        return rc, buf.getvalue()

    def test_within_spread_is_not_slower(self):
        spread, v = ab_compare.verdict(1.0, 1.2, 1.25, 1.05)
        self.assertAlmostEqual(spread, 0.2)
        self.assertEqual(v, "not slower")

    def test_beyond_spread_is_over_spread(self):
        spread, v = ab_compare.verdict(2.0, 2.05, 2.5, 2.55)
        self.assertAlmostEqual(spread, 0.05)
        self.assertEqual(v, "over spread")

    def test_cli_prints_one_verdict_per_query(self):
        rc, out = self.run_cli()
        self.assertEqual(rc, 0)
        rows = {line.split()[0]: line for line in out.splitlines()
                if line.split() and line.split()[0] in MEDIANS["base1"]}
        self.assertTrue(rows["steady"].endswith("not slower"))
        self.assertTrue(rows["slower"].endswith("over spread"))
        self.assertIn("1/2 not slower; over spread: slower", out)


if __name__ == "__main__":
    unittest.main()
