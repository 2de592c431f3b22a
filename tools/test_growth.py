"""Unit tests of tools/growth.py on two tiny fixture artifacts.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import growth


def rep(wall, task, shuffle, peak, rows_in, rows_out):
    return {"wall_s": wall, "exec.task_s": task, "shuffle.read_bytes": shuffle,
            "shuffle.write_bytes": shuffle, "exec.peak_mem_bytes": peak,
            "scan.input_rows": rows_in, "write.output_rows": rows_out}


def artifact(per_rep):
    return {"queries": {q: 0.0 for q in per_rep}, "per_rep": per_rep}


# linear: 10x the rows, 10x the work; super-linear: 10x the rows, 100x the
# task time; no_shuffle: no shuffle at the small scale, so its shuffle
# ratio has a zero denominator
SMALL = artifact({
    "linear": [rep(1.0, 1.0, 100, 1000, 100, 10)] * 2,
    "super_linear": [rep(1.0, 1.0, 100, 1000, 100, 10), rep(3.0, 3.0, 100, 1000, 100, 10)],
    "no_shuffle": [rep(1.0, 1.0, 0, 1000, 100, 0)],
})
LARGE = artifact({
    "linear": [rep(10.0, 10.0, 1000, 10000, 1000, 100)] * 2,
    "super_linear": [rep(100.0, 100.0, 1000, 1000, 1000, 100),
                     rep(300.0, 300.0, 1000, 1000, 1000, 100)],
    "no_shuffle": [rep(2.0, 2.0, 5000, 1000, 1000, 0)],
})


class GrowthTest(unittest.TestCase):
    def setUp(self):
        self.rows = {r["query"]: r for r in growth.table(SMALL, LARGE)}

    def test_one_row_per_board_query(self):
        self.assertEqual(sorted(self.rows), ["linear", "no_shuffle", "super_linear"])

    def test_linear_query_is_not_flagged(self):
        r = self.rows["linear"]
        self.assertAlmostEqual(r["ratios"]["task"], 10.0)
        self.assertAlmostEqual(r["ratios"]["shuffle"], 10.0)
        self.assertAlmostEqual(r["rows_ratio"], 10.0)
        self.assertFalse(r["flagged"])

    def test_super_linear_query_is_flagged(self):
        r = self.rows["super_linear"]
        # medians over reps: task 2.0 -> 200.0
        self.assertAlmostEqual(r["ratios"]["task"], 100.0)
        self.assertAlmostEqual(r["ratios"]["wall"], 100.0)
        self.assertTrue(r["flagged"])

    def test_zero_denominator_prints_na_and_does_not_flag(self):
        r = self.rows["no_shuffle"]
        self.assertIsNone(r["ratios"]["shuffle"])
        self.assertIsNone(r["ratios"]["output_rows"])
        self.assertFalse(r["flagged"])

    def test_markdown_states_the_rule_and_lists_flagged(self):
        text, flagged = growth.markdown(growth.table(SMALL, LARGE), "s.json", "l.json")
        self.assertEqual(flagged, ["super_linear"])
        self.assertIn(growth.RULE, text)
        line = next(l for l in text.splitlines() if l.startswith("| no_shuffle "))
        self.assertEqual(line.split(" | ")[3], "n/a")

    def test_cli_writes_the_table(self):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, art in (("small", SMALL), ("large", LARGE)):
                paths.append(os.path.join(d, name + ".json"))
                with open(paths[-1], "w") as f:
                    f.write(json.dumps(art) + "\n")
            out = os.path.join(d, "GROWTH.md")
            growth.main(["growth.py", *paths, out])
            with open(out) as f:
                rows = [l for l in f if l.startswith("| ") and not l.startswith("| query")]
            self.assertEqual(len(rows), 3)


if __name__ == "__main__":
    unittest.main()
